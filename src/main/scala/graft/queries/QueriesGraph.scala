package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.graph.{ConnectedComponents, Flow, GraphBuild, Scc}
import graft.geo.Geo
import Derived._

/** Graph operator suite (SURVEY.md §2.3-2.6) over the derived graph, each
  * gated by a DuckDB oracle — including *recursive-CTE* oracles for the
  * iterative shuffle algorithms (CC labels, SCC, upstream propagation).
  */
object QueriesGraph {

  /** floor(x·10 + 0.5) decimetres — integerise before compare. */
  private def dmSql(e: String) = s"CAST(FLOOR(($e) * 10 + 0.5) AS BIGINT)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 degree census on the derived ways
    "q11_degree_census" -> ((s, d) =>
      GraphBuild.degreeCensus(waysDF(s, d))),

    // pillar-node fraction (graph-compression sanity, BASELINE.md)
    "q12_pillar_count" -> ((s, d) => {
      val census = GraphBuild.degreeCensus(waysDF(s, d))
      census.agg(
        sum(when(col("degree") =!= 2, 1L).otherwise(0L)).as("n_pillar"),
        count(lit(1)).as("n_nodes"))
    }),

    // C2 connected components — large-star/small-star iterative joins
    "q13_cc_labels" -> ((s, d) => ccLabels(s, d)),

    // C5 per-component length: Σ haversine over contracted edges
    "q14_comp_length" -> ((s, d) =>
      compLengths(s, d).select("comp", "n_edges", "len_dm")),

    // C11 rank / fraction properties over component lengths (two-phase
    // global rank — no single-partition window)
    "q15_rank_props" -> ((s, d) => {
      val lens = compLengths(s, d)
      val total = lens.agg(sum("len_dm")).head().getLong(0)
      graft.runtime.Ranks.withGlobalRowNumber(lens,
          Seq(col("len_dm").desc, col("comp").asc), "length_desc_rank",
          startAt = 0L)
        .withColumn("frac_bp",
          expr(s"CAST(FLOOR(len_dm * 10000.0 / $total + 0.5) AS BIGINT)"))
    }),

    // C7 IncludeTotalPercentage min-length mode (two-phase cumsum)
    "q16_min_length_pct" -> ((s, d) => {
      val lens = compLengths(s, d)
      val total = lens.agg(sum("len_dm")).head().getLong(0)
      val withCum = graft.runtime.Ranks.withGlobalCumsum(lens,
        Seq(col("len_dm").desc, col("comp").asc), col("len_dm"), "cum")
      val thresh = withCum
        .filter(col("cum") >= lit(0.9 * total))
        .agg(max("len_dm")).head().getLong(0)
      lens.filter(col("len_dm") >= thresh)
    }),

    // D7 end points (no outgoing edge) on the DAG orientation
    "q17_ends" -> ((s, d) => Flow.endPoints(dagEdgesDF(s, d))),

    // D5 upstream accumulation with equal flow splitting
    "q18_upstream" -> ((s, d) =>
      dagUpstream(s, d).nodeUpstream
        .select(col("nid"), expr(dmSql("upstream_m")).as("up_dm"))),

    // D1 SCC (weak-CC shuffle + per-component Tarjan)
    "q19_scc" -> ((s, d) => sccCyclic(s, d)),

    // flagship end-to-end lump pipeline, FULLY oracled: the DuckDB side
    // replays census → contraction → per-group canonical dedup → CC →
    // lengths → ranks, and reproduces the post-compress num_nodes with a
    // closed form (pillar count + parallel-chain / loop / pure-cycle
    // survivors — see the q35 oracle below). Keys on (grp_s,
    // root_nodeid); the internal composite comp id is not part of the
    // contract.
    "q35_lump_pipeline" -> ((s, d) => {
      val cfg = graft.pipeline.LumpWays.Config(
        tagFilters = Seq(graft.tagfilter.TagFilter.unsafeParse("status")),
        groupKeys = Seq(Seq("status")))
      // Scalar-only projection: the driver sorts rows for hashing and
      // chokes on array columns (round-1 q35 err); doubles are integerised.
      graft.pipeline.LumpWays.geometryStage(lumpStages(s, d), nodesDF(s, d), cfg, s)
        .select(
          concat_ws(";", col("grp")).as("grp_s"),
          col("root_nodeid"), col("num_nodes"),
          expr(dmSql("length_m")).as("len_dm"),
          col("length_desc_rank"), col("length_asc_rank"),
          expr("CAST(FLOOR(length_m_fraction_total * 10000 + 0.5) AS BIGINT)").as("frac_total_bp"),
          expr("CAST(FLOOR(length_m_fraction_longest * 10000 + 0.5) AS BIGINT)").as("frac_longest_bp"))
    }),

    // P1 SHARDED geometry (DistPeel chunk peel + endpoint stitch) pushed
    // through the DuckDB gate: force shardThresholdEdges down to 1 so
    // every component with 2+ contracted edges takes the sharded path
    // (q35/q44 run below the default threshold at sf0.1 and never
    // exercise it; the testdata components are single-way at sf0.001 and
    // a handful of contracted edges at sf0.01/sf0.1, so 1 is the only
    // threshold the fixture can cross), then
    // digest the OUTPUT lines/coords into peel-invariant per-group
    // aggregates: exact-once segment coverage (row count == distinct
    // count — the 16M-edge invariant, now hash-gated every round),
    // canonical endpoint sums, distributed closed-form num_nodes, and
    // distinct node/position sums read from the coords arrays.
    "q119_sharded_geom_cover" -> ((s, d) => shardedGeomDigest(s, d, 1L)))

  /** The shared steps 1-7 of the q35/q119 lump runs — threshold-
    * independent by construction ([[graft.pipeline.LumpWays.Stages]]),
    * so the gate pair derives census/contraction/CC/ranks ONCE per rep
    * and each query pays only its own geometry path (q119 still forces
    * every kept component through the sharded DistPeel).
    */
  private def lumpStages(
      s: SparkSession, d: String): graft.pipeline.LumpWays.Stages =
    computeIfAbsent(s"lumpstages:$d") {
      val cfg = graft.pipeline.LumpWays.Config(
        tagFilters = Seq(graft.tagfilter.TagFilter.unsafeParse("status")),
        groupKeys = Seq(Seq("status")))
      graft.pipeline.LumpWays.preludeStages(waysDF(s, d), nodesDF(s, d), cfg, s)
    }

  /** The q119 digest over [[graft.pipeline.LumpWays.features]] lines at a
    * given shard threshold — peel-invariant by construction, so the spec
    * cross-checks threshold=1 ≡ threshold=MaxValue (sharded ≡ exact). */
  private[graft] def shardedGeomDigest(
      s: SparkSession, d: String, threshold: Long): DataFrame = {
      val cfg = graft.pipeline.LumpWays.Config(
        tagFilters = Seq(graft.tagfilter.TagFilter.unsafeParse("status")),
        groupKeys = Seq(Seq("status")),
        shardThresholdEdges = threshold)
      // eager checkpoint: three digest aggregations read this frame —
      // without it each join branch re-executes the whole lump pipeline
      val lines = graft.pipeline.LumpWays
        .geometryStage(lumpStages(s, d), nodesDF(s, d), cfg, s)
        .select(concat_ws(";", col("grp")).as("grp_s"), col("root_nodeid"),
          col("num_nodes"),
          explode(arrays_zip(col("lines"), col("coords"))).as("lc"))
        .select(col("grp_s"), col("root_nodeid"), col("num_nodes"),
          col("lc.lines").as("line"), col("lc.coords").as("cline"))
        .localCheckpoint(true)
      val segs = lines
        .filter(size(col("line")) >= 2)
        .select(col("grp_s"), col("root_nodeid"), col("num_nodes"),
          explode(expr(
          "transform(slice(line, 1, size(line) - 1), (x, i) -> " +
            "struct(least(x, line[i + 1]) AS p, greatest(x, line[i + 1]) AS q))"))
          .as("sg"))
        .select(col("grp_s"), col("root_nodeid"), col("num_nodes"),
          col("sg.p"), col("sg.q"))
      // num_nodes is constant per (grp_s, root_nodeid): riding max()
      // through the segment explode replaces the separate nnAgg scan +
      // its join (the final join is inner, so groups with no >=2-point
      // line — invisible to the oracle — drop out identically)
      val segAgg = segs.groupBy("grp_s", "root_nodeid").agg(
        max("num_nodes").as("num_nodes"),
        count(lit(1)).as("n_seg_rows"),
        countDistinct(col("p"), col("q")).as("n_segs"),
        sum("p").as("seg_p_sum"), sum("q").as("seg_q_sum"))
      // same >=2 filter as segs: the oracle derives its node set from
      // SEGMENTS, so a degenerate 1-point line must be invisible on the
      // Spark side too (symmetry, not just defense)
      val ptAgg = lines
        .filter(size(col("line")) >= 2)
        .select(col("grp_s"), col("root_nodeid"), explode(expr(
          "transform(line, (x, i) -> struct(x AS nid, " +
            "CAST(FLOOR(cline[i]['_2'] * 10000 + 0.5) AS BIGINT) AS lat_dm, " +
            "CAST(FLOOR(cline[i]['_1'] * 10000 + 0.5) AS BIGINT) AS lon_dm))"))
          .as("pt"))
        .select(col("grp_s"), col("root_nodeid"), col("pt.nid"),
          col("pt.lat_dm"), col("pt.lon_dm"))
        .distinct()
        .groupBy("grp_s", "root_nodeid").agg(
          count(lit(1)).as("nid_cnt"),
          sum("lat_dm").as("lat_dm_sum"), sum("lon_dm").as("lon_dm_sum"))
      segAgg
        .join(ptAgg, Seq("grp_s", "root_nodeid"))
        .select("grp_s", "root_nodeid", "num_nodes", "n_seg_rows", "n_segs",
          "seg_p_sum", "seg_q_sum", "nid_cnt", "lat_dm_sum", "lon_dm_sum")
  }

  /** Same as [[Derived.clearMemo]] (kept for callers of this name). */
  def clearMemo(): Unit = Derived.clearMemo()

  def ccLabels(s: SparkSession, d: String): DataFrame =
    memoize(s"cc:$d") {
      // edgesDF is already canonical-distinct — skip CC's intake shuffle
      ConnectedComponents.run(edgesDF(s, d), assumeDistinct = true).labels
    }

  /** Shared: per-component integerised lengths. */
  def compLengths(s: SparkSession, d: String): DataFrame =
    memoize(s"complen:$d") {
      val labels = ccLabels(s, d)
      val nodes = nodesDF(s, d)
      edgesDF(s, d)
        .join(labels.withColumnRenamed("nid", "src"), Seq("src"))
        .join(nodes.select(col("nid").as("src"), col("lat").as("lat1"),
          col("lon").as("lon1")), Seq("src"))
        .join(nodes.select(col("nid").as("dst"), col("lat").as("lat2"),
          col("lon").as("lon2")), Seq("dst"))
        .withColumn("hv",
          Geo.haversineM(col("lat1"), col("lon1"), col("lat2"), col("lon2")))
        .groupBy("comp")
        .agg(expr(dmSql("SUM(hv)")).as("len_dm"), count(lit(1)).as("n_edges"))
    }

  private val ccCte =
    s"""sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |r AS (
       |  SELECT src AS nid, src AS label FROM sym
       |  UNION
       |  SELECT s.dst AS nid, r.label FROM r JOIN sym s ON s.src = r.nid
       |  WHERE r.label < s.dst
       |),
       |cc AS (SELECT nid, MIN(label) AS comp FROM r GROUP BY nid)""".stripMargin

  private val compLenCte =
    s"""$ccCte,
       |clen AS (
       |  SELECT cc.comp AS comp,
       |    ${dmSql("SUM(" + haversineSql("n1.lat", "n1.lon", "n2.lat", "n2.lon") + ")")} AS len_dm,
       |    COUNT(*) AS n_edges
       |  FROM edges e
       |  JOIN cc ON cc.nid = e.src
       |  JOIN nodes n1 ON n1.nid = e.src
       |  JOIN nodes n2 ON n2.nid = e.dst
       |  GROUP BY cc.comp
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q11_degree_census" ->
      s"""WITH $oracleWaysCte
         |SELECT nid, CAST(LEAST(SUM(w), 255) AS BIGINT) AS degree FROM (
         |  SELECT ${nidSql("a0")} AS nid, 1 AS w FROM ways
         |  UNION ALL SELECT ${nidSql("b0")} AS nid, 2 AS w FROM ways
         |  UNION ALL SELECT ${nidSql("c0")} AS nid, 3 AS w FROM ways
         |) GROUP BY nid""".stripMargin,

    "q12_pillar_count" ->
      s"""WITH $oracleWaysCte,
         |census AS (
         |  SELECT nid, LEAST(SUM(w), 255) AS degree FROM (
         |    SELECT ${nidSql("a0")} AS nid, 1 AS w FROM ways
         |    UNION ALL SELECT ${nidSql("b0")} AS nid, 2 AS w FROM ways
         |    UNION ALL SELECT ${nidSql("c0")} AS nid, 3 AS w FROM ways
         |  ) GROUP BY nid)
         |SELECT CAST(SUM(CASE WHEN degree <> 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pillar,
         |       COUNT(*) AS n_nodes FROM census""".stripMargin,

    "q13_cc_labels" ->
      s"""WITH RECURSIVE $oracleWaysCte, $ccCte
         |SELECT nid, comp FROM cc""".stripMargin,

    "q14_comp_length" ->
      s"""WITH RECURSIVE $oracleWaysCte, $compLenCte
         |SELECT comp, n_edges, len_dm FROM clen""".stripMargin,

    "q15_rank_props" ->
      s"""WITH RECURSIVE $oracleWaysCte, $compLenCte,
         |tot AS (SELECT SUM(len_dm) AS t FROM clen)
         |SELECT comp, len_dm, n_edges,
         |  ROW_NUMBER() OVER (ORDER BY len_dm DESC, comp ASC) - 1
         |    AS length_desc_rank,
         |  CAST(FLOOR(len_dm * 10000.0 / (SELECT t FROM tot) + 0.5) AS BIGINT)
         |    AS frac_bp
         |FROM clen""".stripMargin,

    "q16_min_length_pct" ->
      s"""WITH RECURSIVE $oracleWaysCte, $compLenCte,
         |cum AS (
         |  SELECT comp, len_dm, n_edges,
         |    SUM(len_dm) OVER (ORDER BY len_dm DESC, comp ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM clen),
         |thresh AS (
         |  SELECT MAX(len_dm) AS th FROM cum
         |  WHERE cum >= 0.9 * (SELECT SUM(len_dm) FROM clen))
         |SELECT comp, len_dm, n_edges FROM clen
         |WHERE len_dm >= (SELECT th FROM thresh)""".stripMargin,

    "q17_ends" ->
      s"""WITH $oracleWaysCte
         |SELECT dst AS nid FROM edges
         |EXCEPT
         |SELECT src AS nid FROM edges""".stripMargin,

    "q18_upstream" ->
      s"""WITH RECURSIVE $oracleWaysCte,
         |de AS (SELECT src, dst, $edgeLenSql AS len FROM edges),
         |outdeg AS (SELECT src AS u, COUNT(*) AS od FROM de GROUP BY src),
         |contrib AS (
         |  SELECT dst AS nid, len AS amt FROM de
         |  UNION ALL
         |  SELECT e.dst, c.amt / o.od FROM contrib c
         |    JOIN de e ON e.src = c.nid
         |    JOIN outdeg o ON o.u = c.nid
         |)
         |SELECT n.nid AS nid, ${dmSql("COALESCE(s.up, 0.0)")} AS up_dm
         |FROM nodes n LEFT JOIN
         |  (SELECT nid, SUM(amt) AS up FROM contrib GROUP BY nid) s
         |  ON s.nid = n.nid""".stripMargin,

    "q19_scc" ->
      s"""WITH RECURSIVE $oracleWaysCte, $oracleCyclicCte,
         |reach AS (
         |  SELECT src AS a, dst AS b FROM dir_edges
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN dir_edges e ON e.src = r.b
         |),
         |mutual AS (
         |  SELECT r1.a AS nid, r1.b AS other
         |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
         |  WHERE r1.a <> r1.b)
         |SELECT nid, CAST(LEAST(nid, MIN(other)) AS BIGINT) AS scc
         |FROM mutual GROUP BY nid""".stripMargin,

    // Full lump-pipeline replay. num_nodes (vertex count after the
    // local degree-2 compression, Local.compress) uses the closed form:
    //   pillars (contracted-graph degree ≠ 2)
    // + per parallel-chain family (p,q): C − 1 + [direct edge exists]
    // + 2 per pillar loop, 3 per pure-cycle component
    // — validated row-exact against the Spark pipeline at sf0.01.
    // MATERIALIZED stops DuckDB re-inlining the dedup pipeline at every
    // reference (unhinted, the query runs out of file handles).
    "q35_lump_pipeline" ->
      s"""WITH RECURSIVE $oracleWaysCte,
         |$lumpNnCte,
         |tot AS (SELECT SUM(len) AS t, MAX(len) AS mx, COUNT(*) AS n FROM nn)
         |SELECT g AS grp_s, root AS root_nodeid,
         |  CAST(num_nodes AS BIGINT) AS num_nodes,
         |  ${dmSql("len")} AS len_dm,
         |  CAST(ROW_NUMBER() OVER (ORDER BY len DESC, g ASC, root ASC) - 1
         |    AS BIGINT) AS length_desc_rank,
         |  CAST((SELECT n FROM tot)
         |    - (ROW_NUMBER() OVER (ORDER BY len DESC, g ASC, root ASC) - 1)
         |    AS BIGINT) AS length_asc_rank,
         |  CAST(FLOOR(len / (SELECT t FROM tot) * 10000 + 0.5) AS BIGINT)
         |    AS frac_total_bp,
         |  CAST(FLOOR(len / (SELECT mx FROM tot) * 10000 + 0.5) AS BIGINT)
         |    AS frac_longest_bp
         |FROM nn""".stripMargin,

    // Sharded-geometry coverage gate: replay the expanded segment set
    // per kept group from `rk` (rn=1 rows expand to their chain's
    // original segments; rn>1 duplicate rows with an interior split back
    // into the graph; duplicate DIRECT edges are dropped) and digest it
    // the same way the Spark side digests the OUTPUT lines/coords.
    "q119_sharded_geom_cover" ->
      s"""WITH RECURSIVE $oracleWaysCte,
         |$lumpNnCte,
         |seg AS (
         |  SELECT g, src AS p, dst AS q, src AS anchor FROM rk
         |    WHERE rn = 1 AND mid IS NULL
         |  UNION ALL
         |  SELECT g, LEAST(src, mid), GREATEST(src, mid), src FROM rk
         |    WHERE mid IS NOT NULL
         |  UNION ALL
         |  SELECT g, LEAST(mid, dst), GREATEST(mid, dst), src FROM rk
         |    WHERE mid IS NOT NULL),
         |segr AS MATERIALIZED (
         |  SELECT s.g, c.root, s.p, s.q FROM seg s
         |  JOIN cc2 c ON c.g = s.g AND c.nid = s.anchor),
         |sa AS (
         |  SELECT g, root, COUNT(*) AS n,
         |    CAST(SUM(p) AS BIGINT) AS ps, CAST(SUM(q) AS BIGINT) AS qs
         |  FROM segr GROUP BY g, root),
         |nds AS (
         |  SELECT DISTINCT g, root, nid FROM (
         |    SELECT g, root, p AS nid FROM segr
         |    UNION ALL SELECT g, root, q FROM segr)),
         |na AS (
         |  SELECT g, root, COUNT(*) AS nid_cnt,
         |    CAST(SUM(CAST(FLOOR(${latSql("nid")} * 10000 + 0.5) AS BIGINT))
         |      AS BIGINT) AS lat_s,
         |    CAST(SUM(CAST(FLOOR(${lonSql("nid")} * 10000 + 0.5) AS BIGINT))
         |      AS BIGINT) AS lon_s
         |  FROM nds GROUP BY g, root)
         |SELECT sa.g AS grp_s, sa.root AS root_nodeid,
         |  CAST(nn.num_nodes AS BIGINT) AS num_nodes,
         |  sa.n AS n_seg_rows, sa.n AS n_segs,
         |  sa.ps AS seg_p_sum, sa.qs AS seg_q_sum,
         |  na.nid_cnt, na.lat_s AS lat_dm_sum, na.lon_s AS lon_dm_sum
         |FROM sa
         |JOIN na ON na.g = sa.g AND na.root = sa.root
         |JOIN nn ON nn.g = sa.g AND nn.root = sa.root""".stripMargin)

  /** Lump-pipeline replay CTE chain shared by the q35 gate and the q119
    * sharded-geometry gate: ways → weighted census → way-level
    * contraction with first-wins duplicate resolution (`rk`/`cg`) →
    * per-group CC (`cc2`) → lengths (`clen2`) → closed-form post-compress
    * num_nodes (`nn`). Prepend WITH RECURSIVE + [[Derived.oracleWaysCte]].
    */
  private lazy val lumpNnCte: String =
      s"""wt AS MATERIALIZED (SELECT wid, o_orderstatus AS g,
         |  ${nidSql("a0")} AS na, ${nidSql("b0")} AS nb, ${nidSql("c0")} AS nc
         |  FROM ways),
         |census AS MATERIALIZED (
         |  SELECT nid, LEAST(SUM(w), 255) AS degree FROM (
         |    SELECT na AS nid, 1 AS w FROM wt
         |    UNION ALL SELECT nb, 2 FROM wt
         |    UNION ALL SELECT nc, 3 FROM wt) GROUP BY nid),
         |raw AS (
         |  SELECT g, wid, na AS u, nb AS v, CAST(NULL AS BIGINT) AS mid FROM wt
         |    WHERE nb IN (SELECT nid FROM census WHERE degree <> 2)
         |  UNION ALL
         |  SELECT g, wid, nb, nc, NULL FROM wt
         |    WHERE nb IN (SELECT nid FROM census WHERE degree <> 2)
         |  UNION ALL
         |  SELECT g, wid, na, nc, nb FROM wt
         |    WHERE nb NOT IN (SELECT nid FROM census WHERE degree <> 2)),
         |rk AS (SELECT g, wid, LEAST(u, v) AS src, GREATEST(u, v) AS dst, mid,
         |  ROW_NUMBER() OVER (PARTITION BY g, LEAST(u, v), GREATEST(u, v)
         |    ORDER BY wid, (mid IS NOT NULL), mid) AS rn
         |  FROM raw WHERE u <> v),
         |cg AS MATERIALIZED (
         |  SELECT DISTINCT g, src, dst FROM (
         |    SELECT g, src, dst FROM rk WHERE rn = 1
         |    UNION ALL
         |    SELECT g, LEAST(src, mid), GREATEST(src, mid) FROM rk
         |      WHERE rn > 1 AND mid IS NOT NULL
         |    UNION ALL
         |    SELECT g, LEAST(mid, dst), GREATEST(mid, dst) FROM rk
         |      WHERE rn > 1 AND mid IS NOT NULL)),
         |sym2 AS (SELECT g, src, dst FROM cg
         |  UNION SELECT g, dst AS src, src AS dst FROM cg),
         |r2 AS (
         |  SELECT g, src AS nid, src AS label FROM sym2
         |  UNION
         |  SELECT s.g, s.dst, r2.label FROM r2
         |    JOIN sym2 s ON s.g = r2.g AND s.src = r2.nid
         |  WHERE r2.label < s.dst),
         |cc2 AS MATERIALIZED (SELECT g, nid, MIN(label) AS root FROM r2 GROUP BY g, nid),
         |clen2 AS (
         |  SELECT e.g, c.root,
         |    SUM(${haversineSql(latSql("e.src"), lonSql("e.src"),
                latSql("e.dst"), lonSql("e.dst"))}) AS len
         |  FROM cg e JOIN cc2 c ON c.g = e.g AND c.nid = e.src
         |  GROUP BY e.g, c.root),
         |deg2 AS MATERIALIZED (SELECT g, nid, COUNT(*) AS d FROM (
         |  SELECT g, src AS nid FROM cg UNION ALL SELECT g, dst FROM cg)
         |  GROUP BY g, nid),
         |pil AS (SELECT d.g, c.root, COUNT(*) AS p
         |  FROM deg2 d JOIN cc2 c ON c.g = d.g AND c.nid = d.nid
         |  WHERE d.d <> 2 GROUP BY d.g, c.root),
         |intnodes AS MATERIALIZED (SELECT g, nid FROM deg2 WHERE d = 2),
         |intedges AS (SELECT e.g, e.src, e.dst FROM cg e
         |  JOIN intnodes i1 ON i1.g = e.g AND i1.nid = e.src
         |  JOIN intnodes i2 ON i2.g = e.g AND i2.nid = e.dst),
         |isym AS (SELECT g, src, dst FROM intedges
         |  UNION SELECT g, dst AS src, src AS dst FROM intedges),
         |ir AS (
         |  SELECT g, nid, nid AS label FROM intnodes
         |  UNION
         |  SELECT s.g, s.dst, ir.label FROM ir
         |    JOIN isym s ON s.g = ir.g AND s.src = ir.nid
         |  WHERE ir.label < s.dst),
         |icc AS MATERIALIZED (SELECT g, nid, MIN(label) AS ic FROM ir GROUP BY g, nid),
         |att AS (
         |  SELECT i.g, i.ic, e.dst AS pillar FROM cg e
         |    JOIN icc i ON i.g = e.g AND i.nid = e.src
         |    JOIN deg2 dp ON dp.g = e.g AND dp.nid = e.dst AND dp.d <> 2
         |  UNION ALL
         |  SELECT i.g, i.ic, e.src FROM cg e
         |    JOIN icc i ON i.g = e.g AND i.nid = e.dst
         |    JOIN deg2 dp ON dp.g = e.g AND dp.nid = e.src AND dp.d <> 2),
         |ica AS MATERIALIZED (
         |  SELECT i.g, i.ic, COUNT(a.pillar) AS natt,
         |    MIN(a.pillar) AS p1, MAX(a.pillar) AS p2
         |  FROM (SELECT DISTINCT g, ic FROM icc) i
         |  LEFT JOIN att a ON a.g = i.g AND a.ic = i.ic
         |  GROUP BY i.g, i.ic),
         |chains AS (
         |  SELECT g, p1, p2, COUNT(*) AS c FROM ica
         |  WHERE natt = 2 AND p1 <> p2 GROUP BY g, p1, p2),
         |extras AS (
         |  SELECT ch.g, c.root,
         |    ch.c - 1 + (CASE WHEN EXISTS (SELECT 1 FROM cg
         |      WHERE cg.g = ch.g AND cg.src = ch.p1 AND cg.dst = ch.p2)
         |      THEN 1 ELSE 0 END) AS surv
         |  FROM chains ch JOIN cc2 c ON c.g = ch.g AND c.nid = ch.p1
         |  UNION ALL
         |  SELECT i.g, c.root, 2 FROM ica i
         |    JOIN cc2 c ON c.g = i.g AND c.nid = i.p1
         |  WHERE i.natt = 2 AND i.p1 = i.p2
         |  UNION ALL
         |  SELECT i.g, c.root, 3 FROM ica i
         |    JOIN cc2 c ON c.g = i.g AND c.nid = i.ic
         |  WHERE i.natt = 0),
         |extra AS (SELECT g, root, SUM(surv) AS x FROM extras GROUP BY g, root),
         |nn AS MATERIALIZED (
         |  SELECT l.g, l.root, l.len,
         |    COALESCE(p.p, 0) + COALESCE(x.x, 0) AS num_nodes
         |  FROM clen2 l
         |  LEFT JOIN pil p ON p.g = l.g AND p.root = l.root
         |  LEFT JOIN extra x ON x.g = l.g AND x.root = l.root)""".stripMargin
}
