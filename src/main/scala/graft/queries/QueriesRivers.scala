package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{DownOps, RiverRel}
import Derived._

/** D10/D13/D16 query entries over the derived graph. */
object QueriesRivers {

  private val tagSql = "CASE WHEN (src + dst) % 2 = 0 THEN 'a' ELSE 'b' END"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // D16 grouped waterways (SQL-checkable columns only)
    "q47_grouped_waterways" -> ((s, d) => {
      val tg = tagGroupTagged(s, d)
      val lens = dagEdgesDF(s, d).select("src", "dst", "len")
      // equal-split flows (memoised); tag-grouped split differs only at
      // multi-out nodes and is covered by the Flow fixtures
      val flows = dagUpstream(s, d).edgeFlow.select("src", "dst", "flow_m")
      DownOps.groupedWaterways(tg, lens, flows)
        .select(col("tag"), col("tag_group_nid"), col("n_edges"),
          expr("CAST(FLOOR(cum_length_m * 10 + 0.5) AS BIGINT)").as("cum_len_dm"),
          expr("CAST(FLOOR(length_m * 10 + 0.5) AS BIGINT)").as("through_dm"),
          col("n_sources"), col("n_sinks"))
    }),

    // D10 grouped-ends lines, dumped as the walked edge multiset — the
    // walk uses every basin edge exactly once and never crosses basins,
    // so the (end_nid, src, dst) set must equal "DAG edges joined to
    // their dst's biggest-end assignment", which IS SQL-expressible.
    // Line ORDER within a basin is pinned by DownOpsSpec.
    "q48_grouped_ends" -> ((s, d) => {
      val assign = dagEndAssignmentDm(s, d)
      DownOps.groupedEnds(
        dagUpstream(s, d).edgeFlow.select("src", "dst", "flow_m"), assign)
        .select(col("end_nid"),
          explode(expr(
            """transform(sequence(0, size(line) - 2),
              |  i -> struct(line[i] AS src, line[i + 1] AS dst))"""
              .stripMargin.replace("\n", " "))).as("p"))
        .select(col("end_nid"), col("p.src").as("src"), col("p.dst").as("dst"))
    }),

    // D13 river relationships — fully DuckDB-oracled (every rule incl.
    // both fallbacks + last-match-wins is aggregate-expressible)
    "q49_river_rels" -> ((s, d) => {
      RiverRel.classifyPairs(tagGroupTagged(s, d),
        dagEdgesDF(s, d).select("src", "dst", "len"))
    }))

  /** q48's assignment uses decimetre-integerised end upstreams so the
    * biggest-end tie-break matches the oracle's integer ranking exactly —
    * the shared [[Derived.dagEndAssignmentDm]] memo (q39 reads it too).
    */
  private def dagEndAssignmentDm(s: SparkSession, d: String): DataFrame =
    Derived.dagEndAssignmentDm(s, d).select("nid", "end_nid")

  /** q49 oracle: the full D13 rule set in DuckDB SQL. Flow types per
    * (group, confluence) become boolean flags; each classify rule
    * (tag_group.rs:816-943) is a BOOL_AND/BOOL_OR aggregate; orientation
    * flip = the symmetric flag set; `possible_res.pop()` last-match-wins =
    * CASE priority 8..1 then fallbacks 12..9. In the derived graph every
    * group is tagged, so rule-1 ("small unnamed trib", needs untagged a)
    * is structurally FALSE — kept inline with tagged=TRUE for fidelity.
    */
  private def riverRelsOracle: String = {
    // per-row flow-type flags (x = group a side, y = group b side)
    val aIn = "(x.hasin = 1 AND x.hasout = 0)"
    val aOut = "(x.hasout = 1 AND x.hasin = 0)"
    val aThr = "(x.hasin = 1 AND x.hasout = 1)"
    val bIn = "(y.hasin = 1 AND y.hasout = 0)"
    val bOut = "(y.hasout = 1 AND y.hasin = 0)"
    val bThr = "(y.hasin = 1 AND y.hasout = 1)"
    s"""WITH RECURSIVE $oracleWaysCte,
       |te AS (SELECT src, dst, $tagSql AS tag FROM edges),
       |sym2 AS (SELECT tag, src, dst FROM te UNION SELECT tag, dst, src FROM te),
       |r2 AS (
       |  SELECT tag, src AS nid, src AS label FROM sym2
       |  UNION
       |  SELECT s.tag, s.dst AS nid, r2.label FROM r2
       |    JOIN sym2 s ON s.src = r2.nid AND s.tag = r2.tag
       |  WHERE r2.label < s.dst),
       |tgm AS (SELECT tag, nid, MIN(label) AS grp FROM r2 GROUP BY tag, nid),
       |g AS (
       |  SELECT te.tag || '#' || CAST(tgm.grp AS VARCHAR) AS gkey,
       |         te.src, te.dst, te.tag
       |  FROM te JOIN tgm ON tgm.tag = te.tag AND tgm.nid = te.src),
       |touch AS (
       |  SELECT gkey, nid, MAX(isin) AS hasin, MAX(isout) AS hasout FROM (
       |    SELECT gkey, dst AS nid, 1 AS isin, 0 AS isout FROM g
       |    UNION ALL SELECT gkey, src AS nid, 0 AS isin, 1 AS isout FROM g)
       |  GROUP BY gkey, nid),
       |nodetot AS (
       |  SELECT nid, SUM(hasin) AS totin, SUM(hasout) AS totout
       |  FROM touch GROUP BY nid),
       |confl AS (
       |  SELECT t.gkey, t.nid, t.hasin, t.hasout
       |  FROM touch t JOIN nodetot n ON n.nid = t.nid
       |  WHERE (t.hasin = 1 AND n.totout - t.hasout >= 1)
       |     OR (t.hasout = 1 AND n.totin - t.hasin >= 1)),
       |glens AS (
       |  SELECT gkey, SUM(CAST((src * 7 + dst * 13) % 1000 + 1 AS DOUBLE))
       |    AS length_m FROM g GROUP BY gkey),
       |gsinks AS (
       |  SELECT s.gkey, COUNT(*) AS n_sinks
       |  FROM (SELECT DISTINCT gkey, dst AS nid FROM g) s
       |  WHERE NOT EXISTS (SELECT 1 FROM g h WHERE h.src = s.nid)
       |  GROUP BY s.gkey),
       |nconf AS (SELECT gkey, COUNT(*) AS n_confluences FROM confl GROUP BY gkey),
       |gsets AS (
       |  SELECT gkey, list(nid) AS call,
       |    COALESCE(list(nid) FILTER (WHERE hasin = 1 AND hasout = 0),
       |      CAST([] AS BIGINT[])) AS cin
       |  FROM confl GROUP BY gkey),
       |pairs AS (
       |  SELECT x.gkey AS ga, y.gkey AS gb, COUNT(*) AS cnt,
       |    BOOL_AND($aIn AND $bOut) AS m1,
       |    BOOL_AND($aIn AND $bThr) AS m2,
       |    BOOL_AND($aOut AND $bThr) AS m3,
       |    BOOL_AND(($aOut AND ($bIn OR $bThr)) OR ($aIn AND ($bOut OR $bThr)))
       |      AS sideall_ab,
       |    BOOL_OR($aOut AND ($bIn OR $bThr)) AS sideany1_ab,
       |    BOOL_OR($aIn AND ($bOut OR $bThr)) AS sideany2_ab,
       |    BOOL_AND($bIn AND $aOut) AS m5,
       |    BOOL_AND($bIn AND $aThr) AS m6,
       |    BOOL_AND($bOut AND $aThr) AS m7,
       |    BOOL_AND(($bOut AND ($aIn OR $aThr)) OR ($bIn AND ($aOut OR $aThr)))
       |      AS sideall_ba,
       |    BOOL_OR($bOut AND ($aIn OR $aThr)) AS sideany1_ba,
       |    BOOL_OR($bIn AND ($aOut OR $aThr)) AS sideany2_ba,
       |    BOOL_OR($aIn) AS anyain,
       |    BOOL_OR($bIn) AS anybin
       |  FROM confl x JOIN confl y ON x.nid = y.nid AND x.gkey < y.gkey
       |  GROUP BY x.gkey, y.gkey),
       |sel AS (
       |  SELECT p.*, la.length_m AS len_a, lb.length_m AS len_b,
       |    COALESCE(ska.n_sinks, 0) AS nsk_a, COALESCE(skb.n_sinks, 0) AS nsk_b,
       |    nca.n_confluences AS nc_a, ncb.n_confluences AS nc_b,
       |    list_has_all(setb.call, seta.cin) AS sub_ab,
       |    list_has_all(seta.call, setb.cin) AS sub_ba
       |  FROM pairs p
       |  JOIN glens la ON la.gkey = p.ga
       |  JOIN glens lb ON lb.gkey = p.gb
       |  LEFT JOIN gsinks ska ON ska.gkey = p.ga
       |  LEFT JOIN gsinks skb ON skb.gkey = p.gb
       |  JOIN nconf nca ON nca.gkey = p.ga
       |  JOIN nconf ncb ON ncb.gkey = p.gb
       |  JOIN gsets seta ON seta.gkey = p.ga
       |  JOIN gsets setb ON setb.gkey = p.gb),
       |picked AS (
       |  SELECT ga, gb, CASE
       |    WHEN cnt >= 2 AND len_b < len_a AND sideall_ba
       |      AND sideany1_ba AND sideany2_ba THEN 8
       |    WHEN m7 THEN 7
       |    WHEN m6 THEN 6
       |    WHEN m5 THEN 5
       |    WHEN cnt >= 2 AND len_a < len_b AND sideall_ab
       |      AND sideany1_ab AND sideany2_ab THEN 4
       |    WHEN m3 THEN 3
       |    WHEN m2 THEN 2
       |    WHEN m1 THEN 1
       |    WHEN TRUE AND TRUE AND len_b < len_a AND nsk_b = 0 AND sub_ba THEN 12
       |    WHEN len_b / len_a <= 0.1 AND NOT TRUE AND TRUE
       |      AND nc_b = cnt AND anybin THEN 11
       |    WHEN TRUE AND TRUE AND len_a < len_b AND nsk_a = 0 AND sub_ab THEN 10
       |    WHEN len_a / len_b <= 0.1 AND NOT TRUE AND TRUE
       |      AND nc_a = cnt AND anyain THEN 9
       |    ELSE 0 END AS pick
       |  FROM sel)
       |SELECT
       |  CASE
       |    WHEN pick IN (1, 5) THEN 'AIsTerminalDistributaryOfB'
       |    WHEN pick IN (2, 6, 9, 10, 11, 12) THEN 'AIsTributaryOfB'
       |    WHEN pick IN (3, 7) THEN 'AIsBranchingDistributaryOfB'
       |    WHEN pick IN (4, 8) THEN 'AIsSideChannelOfB'
       |  END AS rel,
       |  CASE WHEN pick IN (1, 2, 3, 4, 9, 10) THEN ga ELSE gb END AS group_a,
       |  CASE WHEN pick IN (1, 2, 3, 4, 9, 10) THEN gb ELSE ga END AS group_b
       |FROM picked WHERE pick > 0""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q48_grouped_ends" ->
      s"""WITH RECURSIVE $oracleWaysCte, ${QueriesDown.upstreamCte},
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
         |  SELECT nid, end_nid,
         |    ROW_NUMBER() OVER (PARTITION BY nid
         |      ORDER BY up_dm DESC, end_nid ASC) AS rn
         |  FROM reachable_ends)
         |SELECT a.end_nid, e.src, e.dst
         |FROM de e JOIN ranked a ON a.nid = e.dst AND a.rn = 1""".stripMargin,

    "q49_river_rels" -> riverRelsOracle,

    "q47_grouped_waterways" ->
      s"""WITH RECURSIVE $oracleWaysCte,
         |de AS (SELECT src, dst, $edgeLenSql AS len, $tagSql AS tag FROM edges),
         |sym2 AS (SELECT tag, src, dst FROM de UNION SELECT tag, dst, src FROM de),
         |r2 AS (
         |  SELECT tag, src AS nid, src AS label FROM sym2
         |  UNION
         |  SELECT s.tag, s.dst AS nid, r2.label FROM r2
         |    JOIN sym2 s ON s.src = r2.nid AND s.tag = r2.tag
         |  WHERE r2.label < s.dst),
         |tg AS (SELECT tag, nid, MIN(label) AS grp FROM r2 GROUP BY tag, nid),
         |ge AS (
         |  SELECT de.tag, tg.grp AS tag_group_nid, de.src, de.dst, de.len
         |  FROM de JOIN tg ON tg.tag = de.tag AND tg.nid = de.src),
         |counts AS (
         |  SELECT tag, tag_group_nid, COUNT(*) AS n_edges,
         |    CAST(FLOOR(SUM(len) * 10 + 0.5) AS BIGINT) AS cum_len_dm
         |  FROM ge GROUP BY tag, tag_group_nid),
         |grp_srcs AS (
         |  SELECT g.tag, g.tag_group_nid, g.src AS nid FROM ge g
         |  WHERE NOT EXISTS (SELECT 1 FROM ge h
         |    WHERE h.tag = g.tag AND h.tag_group_nid = g.tag_group_nid
         |      AND h.dst = g.src)),
         |grp_sinks AS (
         |  SELECT g.tag, g.tag_group_nid, g.dst AS nid FROM ge g
         |  WHERE NOT EXISTS (SELECT 1 FROM ge h
         |    WHERE h.tag = g.tag AND h.tag_group_nid = g.tag_group_nid
         |      AND h.src = g.dst)),
         |walks AS (
         |  SELECT g.tag, g.tag_group_nid, g.src AS nid, k.nid AS sink, g.len AS d
         |  FROM ge g JOIN grp_sinks k
         |    ON k.tag = g.tag AND k.tag_group_nid = g.tag_group_nid
         |   AND k.nid = g.dst
         |  UNION ALL
         |  SELECT g.tag, g.tag_group_nid, g.src, w.sink, g.len + w.d
         |  FROM walks w JOIN ge g
         |    ON g.tag = w.tag AND g.tag_group_nid = w.tag_group_nid
         |   AND g.dst = w.nid),
         |short AS (
         |  SELECT tag, tag_group_nid, nid, sink, MIN(d) AS d
         |  FROM walks GROUP BY tag, tag_group_nid, nid, sink),
         |through AS (
         |  SELECT s.tag, s.tag_group_nid,
         |    CAST(FLOOR(MAX(s.d) * 10 + 0.5) AS BIGINT) AS through_dm
         |  FROM short s JOIN grp_srcs src0
         |    ON src0.tag = s.tag AND src0.tag_group_nid = s.tag_group_nid
         |   AND src0.nid = s.nid
         |  GROUP BY s.tag, s.tag_group_nid),
         |nsrc AS (SELECT tag, tag_group_nid, COUNT(DISTINCT nid) AS n_sources
         |         FROM grp_srcs GROUP BY tag, tag_group_nid),
         |nsink AS (SELECT tag, tag_group_nid, COUNT(DISTINCT nid) AS n_sinks
         |          FROM grp_sinks GROUP BY tag, tag_group_nid)
         |SELECT c.tag, c.tag_group_nid, c.n_edges, c.cum_len_dm,
         |  COALESCE(t.through_dm, 0) AS through_dm,
         |  ns.n_sources, nk.n_sinks
         |FROM counts c
         |LEFT JOIN through t ON t.tag = c.tag AND t.tag_group_nid = c.tag_group_nid
         |JOIN nsrc ns ON ns.tag = c.tag AND ns.tag_group_nid = c.tag_group_nid
         |JOIN nsink nk ON nk.tag = c.tag AND nk.tag_group_nid = c.tag_group_nid"""
        .stripMargin)
}
