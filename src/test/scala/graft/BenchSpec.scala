package graft

import org.scalatest.funsuite.AnyFunSuite
import Bench.Sample

/** The bench JSON line counts only successful runs as samples. */
class BenchSpec extends AnyFunSuite {

  test("a failed run is not a sample; a query that never succeeded is only under failed") {
    val line = Bench.line(
      Seq(Sample("q1", 1, 2.0, ok = true), Sample("q2", 1, 0.02, ok = false)),
      reps = 1, sfDir = "sf")
    assert(line ==
      """{"metric":"total","value":2.0,"unit":"sec","queries":{"q1":2.0},""" +
        """"queries_spread":{"q1":0.0},"reps":1,"rep_totals":[2.0],"sf":"sf",""" +
        """"failed":["q2"]}""")
  }

  test("a query that failed once is timed by its successful reps and named under failed") {
    val line = Bench.line(
      Seq(Sample("q1", 1, 0.01, ok = false), Sample("q1", 2, 3.0, ok = true),
        Sample("q1", 3, 4.0, ok = true)),
      reps = 3, sfDir = "sf")
    assert(line.contains(""""value":3.0,"""))
    assert(line.contains(""""queries_spread":{"q1":1.0}"""))
    assert(line.contains(""""rep_totals":[0.0,3.0,4.0]"""))
    assert(line.endsWith(""""failed":["q1"]}"""))
  }
}
