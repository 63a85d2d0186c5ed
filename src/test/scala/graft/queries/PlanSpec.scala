package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Physical-plan quality gates (builder brief: ".explain the plan and
  * iterate until it's the plan you'd want"): filters reach the parquet
  * scan, column pruning works, small dims broadcast, no cartesian
  * products sneak into the joins.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("q01: predicate pushdown + column pruning reach the scan") {
    val p = plan("q01_agg_pushdown")
    assert(p.contains("PushedFilters") && p.contains("l_quantity"),
      s"filter not pushed:\n$p")
    assert(!p.contains("l_shipdate"), "unused column not pruned from scan")
  }

  test("q02: small dimension joins are broadcast") {
    val p = plan("q02_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("q03/q04: semi/anti joins planned as such") {
    assert(plan("q03_semi_join").contains("LeftSemi"))
    assert(plan("q04_anti_join").contains("LeftAnti"))
  }

  test("q21: cell join is an equi-join (no cartesian/NLJ)") {
    val p = plan("q21_cell_join")
    assert(!p.contains("CartesianProduct"), s"cartesian in cell join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NLJ in cell join:\n$p")
  }

  test("q11: census is a partial-aggregated hash aggregate") {
    val p = plan("q11_degree_census")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
    // partial + final pair => map-side combine before the shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2, "no partial aggregation")
  }

  test("q15/q42: no single-partition window stage anywhere (Ranks)") {
    // Un-partitioned Window.orderBy moves ALL rows to one partition —
    // round-1's OOM-at-scale anti-pattern. Two-phase Ranks must keep
    // every Window partitioned.
    for (q <- Seq("q15_rank_props", "q42_ends_ranked", "q16_min_length_pct")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // any Window operator present must have a partition spec; the plan
      // string for an unpartitioned window omits "partitionBy"... assert
      // via the physical marker Spark logs on: SinglePartition exchange
      // feeding a Window
      assert(!p.contains("Exchange SinglePartition\n+- Window") &&
        !p.matches("(?s).*Exchange SinglePartition[^\\n]*\\n[^\\n]*Window.*"),
        s"$q has a single-partition window stage:\n$p")
    }
  }

  test("q50: ANN is bucket equi-joins, no cartesian") {
    val p = plan("q50_ann_topk")
    assert(!p.contains("CartesianProduct"), s"cartesian in ANN join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NLJ in ANN join:\n$p")
  }

  test("q99-q107: no cartesian/NLJ/single-partition stage in the new family") {
    // The link-graph / text-stats batch (host collapse, HyperBall, k-core,
    // BPE pairs, anchors, classifier, count-min, pHash, LPA) must stay
    // all-equi-join, all-partitioned. Iterative queries root at a
    // localCheckpoint; their per-round plans are audited by construction
    // (groupBy/join only), this gate covers the emitted stage.
    for (q <- Seq("q99_host_graph", "q100_hyperball", "q101_kcore",
        "q102_bpe_pairs", "q103_anchor_text", "q104_hash_classifier",
        "q105_countmin", "q106_media_phash", "q107_label_prop",
        "q108_bfs_depth")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian in $q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"NLJ in $q:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"single-partition exchange in $q:\n$p")
    }
  }

  test("q109/q110: suffix-array family all-equi-join, all-partitioned") {
    // The doubling loop roots at localCheckpoints; this gates the emitted
    // stage (sa join + pair self-join + LCP expression + aggregations).
    for (q <- Seq("q109_suffix_array", "q110_substr_dedup",
        "q111_pq_topk")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      df.collect() // materialize through AQE so joins are finalized
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"cartesian in $q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"NLJ in $q:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"single-partition exchange in $q:\n$p")
    }
  }

  test("q112-q116: tokenizer/corpus-stats family all-equi-join, all-partitioned") {
    // q112/q115 root at localCheckpoints (the O(vocab) merge rounds run at
    // construction); this gates the emitted stage. q113 must stay a pure
    // scan; q114/q116 are partial-agg groupBys (+ a per-source window for
    // the deciles) — never a global exchange.
    for (q <- Seq("q112_bpe_train", "q113_blocklist", "q114_hll_distinct",
        "q115_bpe_encode", "q116_len_deciles")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"cartesian in $q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"NLJ in $q:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"single-partition exchange in $q:\n$p")
    }
    // the blocklist gate is one codegen'd projection — no exchange at all
    val blk = graft.SparkEntry.queries("q113_blocklist")(spark, dir)
    val bp = blk.queryExecution.executedPlan.toString
    assert(!bp.contains("Exchange"), s"q113 should be shuffle-free:\n$bp")
    assert(bp.contains("*("), s"q113 not whole-stage-codegen'd:\n$bp")
  }

  test("q117/q118: crawl ops — no cartesian/NLJ; rule table broadcasts") {
    for (q <- Seq("q117_snapshot_diff", "q118_url_rule_gate")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"cartesian in $q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"NLJ in $q:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"single-partition exchange in $q:\n$p")
    }
    val gate = graft.SparkEntry.queries("q118_url_rule_gate")(spark, dir)
    val gp = gate.queryExecution.executedPlan.toString
    assert(gp.contains("BroadcastHashJoin"),
      s"q118 rule join not broadcast:\n$gp")
  }

  test("q01/q27: whole-stage codegen covers the hot path") {
    // AQE only shows codegen spans in the finalized plan — materialize first
    def finalPlan(name: String): String = {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // WholeStageCodegen prints as "*(n)" in compact plan strings
    assert(finalPlan("q01_agg_pushdown").contains("*("))
    assert(finalPlan("q27_token_count").contains("*("))
  }
}
