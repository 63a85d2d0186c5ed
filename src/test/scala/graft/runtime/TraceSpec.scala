package graft.runtime

import org.scalatest.funsuite.AnyFunSuite
import graft.{Bench, SparkTestBase}
import graft.graph.ConnectedComponents
import graft.queries.Derived

/** One [[Trace]] window per unit of work: gate decisions with the path
  * taken, memo builds charged to their own key, and a failed unit
  * recorded as failed. */
class TraceSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def window(body: => Unit): Trace.Record = {
    val trace = Trace.setup(spark)
    trace.begin()
    body
    trace.end(0.0, None)
  }

  test("a forced-0 gate and its default record different paths") {
    val e = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    def run(limit: Long) = window(ConnectedComponents.run(e, localMaxEdges = limit).labels.count())
    val default = run(500000L)
    val forced = run(0L)
    assert(default.gates.map(g => (g.gate, g.count, g.limit, g.path)) ==
      Seq(("cc-local", 3L, 500000L, "local")))
    assert(forced.gates.map(g => (g.gate, g.count, g.limit, g.path)) ==
      Seq(("cc-local", 3L, 0L, "distributed")))
    assert(default.rounds.map(r => (r.loop, r.rounds)) == Seq(("connected components", 0L)))
    assert(forced.rounds.map(_.rounds).exists(_ >= 1L))
    assert(forced.jobs > default.jobs && forced.unattributedJobs == 0)
    assert(forced.json.contains(""""gates":[{"gate":"cc-local","count":3,"limit":0,"path":"distributed"}]"""))
  }

  test("a nested memo build is charged to the inner key") {
    Derived.clearMemo()
    val sc = spark.sparkContext
    def oneJob() = sc.parallelize(1 to 10, 1).count()
    val r = window {
      Derived.computeIfAbsent("trace:outer") {
        oneJob()
        Derived.computeIfAbsent("trace:inner")(oneJob())
      }
      Derived.computeIfAbsent[Long]("trace:outer")(fail("a hit must not build"))
    }
    Derived.clearMemo()
    assert(r.memoBuilds.map(b => (b._1, b._3)) == Seq(("trace:inner", 1), ("trace:outer", 1)))
    assert(r.memoHits == Seq("trace:outer"))
    assert(r.jobs == 2 && r.memoS > 0.0 && r.jobS == 0.0)
  }

  test("a query that throws leaves a failed record and no timing sample") {
    val (sample, r) = Bench.runOne(Trace.setup(spark), "q_boom", 1) {
      spark.range(3).count()
      throw new IllegalStateException("boom")
    }
    assert(r.status == "failed" && r.error.exists(_.contains("boom")))
    assert(r.jobs >= 1)
    assert(r.json.startsWith("""{"query":"q_boom","rep":1,"rows":null,"status":"failed",""" +
      """"error":"java.lang.IllegalStateException: boom","""))
    assert(Bench.line(Seq(sample), 1, "sf") ==
      """{"metric":"total","value":0.0,"unit":"sec","queries":{},"queries_spread":{},""" +
        """"reps":1,"rep_totals":[0.0],"sf":"sf","failed":["q_boom"]}""")
  }
}
