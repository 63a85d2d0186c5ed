package graft.web

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Hand-computed fixtures for the crawl-maintenance operators (q117
  * snapshot diff, q118 longest-prefix rule gate).
  */
class CrawlSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("snapshotDiff classifies added/deleted/changed/unchanged") {
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "fp")
    val next = Seq((2L, "b"), (3L, "x"), (4L, "d")).toDF("k", "fp")
    val got = Crawl.snapshotDiff(prev, next, "k", "fp")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), Option(r.getString(2)), Option(r.getString(3))))
      .toMap
    assert(got == Map(
      1L -> (("deleted", Some("a"), None)),
      2L -> (("unchanged", Some("b"), Some("b"))),
      3L -> (("changed", Some("c"), Some("x"))),
      4L -> (("added", None, Some("d")))))
  }

  private val rules = Seq(
    ("host1.example.com", "/p/1", 0L),
    ("host1.example.com", "/p/", 1L),
    ("host2.example.com", "/p", 0L),
    ("host3.example.com", "/p/3", 1L),
    ("host3.example.com", "", 0L))

  test("ruleGate: longest prefix wins, default allow, empty-prefix rule") {
    val urls = Seq(
      (1L, "host1.example.com", "/p/1"),  // /p/1 (deny) beats /p/ (allow)
      (2L, "host1.example.com", "/p/7"),  // only /p/ matches -> allow
      (3L, "host2.example.com", "/p/5"),  // /p deny
      (4L, "host3.example.com", "/p/3"),  // carve-out allow beats ""
      (5L, "host3.example.com", "/p/4"),  // only "" matches -> deny
      (6L, "host0.example.com", "/p/9")   // no rules -> default allow
    ).toDF("k", "host", "path")
    val got = Crawl.ruleGate(urls, "k", "host", "path", rules, spark)
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[String]("matched_prefix")),
          r.getAs[Long]("allowed")))
      .toMap
    assert(got == Map(
      1L -> ((Some("/p/1"), 0L)),
      2L -> ((Some("/p/"), 1L)),
      3L -> ((Some("/p"), 0L)),
      4L -> ((Some("/p/3"), 1L)),
      5L -> ((Some(""), 0L)),
      6L -> ((None, 1L))))
  }

  test("ruleGate: equal-length ties break toward allow (RFC 9309)") {
    val tied = Seq(("h", "/a", 1L), ("h", "/a", 0L))
    val urls = Seq((7L, "h", "/ab")).toDF("k", "host", "path")
    val got = Crawl.ruleGate(urls, "k", "host", "path", tied, spark)
      .select("allowed").as[Long].collect()
    assert(got.toSeq == Seq(1L))
  }

  test("ruleGate plan: rule side is a broadcast join") {
    val urls = Seq((1L, "h", "/a")).toDF("k", "host", "path")
    val p = Crawl.ruleGate(urls, "k", "host", "path", rules, spark)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"rules not broadcast:\n$p")
  }
}
