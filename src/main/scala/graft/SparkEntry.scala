package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
import graft.queries.Derived

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The minimum end-to-end lump slice (SURVEY.md §7.3): derived ways →
    * tag filter → degree census → contracted-edge extraction → iterative
    * connected components → per-component haversine length → rank props.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val cfg = graft.pipeline.LumpWays.Config(
      tagFilters = Seq(graft.tagfilter.TagFilter.unsafeParse("status")),
      groupKeys = Seq(Seq("status")))
    graft.pipeline.LumpWays.features(
      Derived.waysDF(spark, dir), Derived.nodesDF(spark, dir), cfg, spark)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesRelational.queries ++
      QueriesGraph.queries ++
      QueriesDown.queries ++
      QueriesExtras.queries ++
      QueriesRivers.queries ++
      QueriesSpatial.queries ++
      QueriesText.queries ++
      QueriesWeb.queries ++
      QueriesMedia.queries ++
      QueriesStream.queries ++
      QueriesTemporal.queries ++
      QueriesPack.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — EVERY query key has one. q44 (frames) and
    * q45 (Brandes betweenness) carry invariant oracles (SQL-recomputed
    * hull-vertex nids with per-nid frame coverage; tree-component
    * betweenness closed form + full simple-path replay for clean cyclic
    * components — see QueriesExtras doc); only merge-order-dependent
    * contractions stay pinned by ScalaTest fixtures.
    */
  def oracleSql: Map[String, String] =
    QueriesRelational.oracles ++
      QueriesGraph.oracles ++
      QueriesDown.oracles ++
      QueriesExtras.oracles ++
      QueriesRivers.oracles ++
      QueriesSpatial.oracles ++
      QueriesText.oracles ++
      QueriesWeb.oracles ++
      QueriesMedia.oracles ++
      QueriesStream.oracles ++
      QueriesTemporal.oracles ++
      QueriesPack.oracles
}
