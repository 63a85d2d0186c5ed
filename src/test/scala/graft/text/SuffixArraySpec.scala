package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.SuffixExprs
import org.apache.spark.unsafe.types.UTF8String

/** Pins the suffix-array operators against a brute-force in-memory
  * reference (sort the capped suffixes as strings) on adversarial
  * fixtures: heavy repetition (long runs of equal windows), verbatim
  * cross-doc copies, one-char docs, docs
  * shorter than the 8-byte packed prefix, and tie-heavy periodic text.
  */
class SuffixArraySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "abracadabra abracadabra abracadabra"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "abracadabra abracadabra abracadabra"), // verbatim copy of 1
    (4L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"), // periodic, 40 a's
    (5L, "z"),
    (6L, "ab"),
    (7L, "the quick brown fox sat still")
  )

  private val cap = 32 // small cap → ties between long-run suffixes

  private def bruteSa: Seq[(Long, Int, Long)] = {
    val sufs = for {
      (id, text) <- docs
      p <- 1 to text.length
    } yield (id, p, text.substring(p - 1, math.min(text.length, p - 1 + cap)))
    sufs.sortBy { case (id, p, s) => (s, id, p) }
      .zipWithIndex
      .map { case ((id, p, _), i) => (id, p, i + 1L) }
  }

  private def df = docs.toDF("doc_id", "text")

  test("suffixRanks == brute-force capped suffix sort (ties by doc,pos)") {
    val got = SuffixArray.suffixRanks(df, "doc_id", "text", cap)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2))
    val want = bruteSa.sortBy(x => (x._1, x._2))
    assert(got.toSeq == want)
  }

  test("adjacentLcp == brute-force common prefixes of the sorted suffixes") {
    val sufOf = docs.toMap
    def capped(id: Long, p: Int): String = {
      val t = sufOf(id); t.substring(p - 1, math.min(t.length, p - 1 + cap))
    }
    val order = bruteSa.sortBy(_._3)
    val want = order.sliding(2).map { case Seq(a, b) =>
      val (sa, sb) = (capped(a._1, a._2), capped(b._1, b._2))
      val l = sa.zip(sb).takeWhile { case (x, y) => x == y }.size
      // engine emits (doc_a, pos_a) = the EARLIER sa_rank of the pair
      ((a._1, a._2, b._1, b._2), l.toLong)
    }.toMap
    val sa = SuffixArray.saWithWindows(df, "doc_id", "text", cap)
    val got = SuffixArray.adjacentLcp(sa)
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)),
        r.getLong(4))).toMap
    assert(got == want)
  }

  test("dupSubstrStats: verbatim copy detected, clean docs at zero") {
    val sa = SuffixArray.saWithWindows(df, "doc_id", "text", cap)
    val r = SuffixArray.dupSubstrStats(df, sa, "doc_id", minLen = 12)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // docs 1 and 3 are byte-identical 35-char texts: their suffixes
    // interleave, so every suffix of length >= 12 pairs cross-doc
    assert(r(1L)._2 === cap.toLong) // max lcp hits the cap
    assert(r(3L)._2 === cap.toLong)
    assert(r(1L) == r(3L)) // symmetric by construction
    // docs 2 and 7 share "the quick brown fox " (20 chars >= 12)
    assert(r(2L)._1 > 0 && r(7L)._1 > 0)
    assert(r(2L)._2 >= 20L && r(2L)._2 < 32L)
    // 4 (a-run), 5, 6 have no cross-doc >= 12 char match
    assert(r(4L) == ((0L, 0L, 0L)))
    assert(r(5L) == ((0L, 0L, 0L)))
    assert(r(6L) == ((0L, 0L, 0L)))
  }

  test("packedPrefix8 preserves binary order; CommonPrefixLen exact") {
    val ss = Seq("", "a", "ab", "abc", "abcdefgh", "abcdefghi", "abd",
      "b", "zzzzzzzzz", "aa", "a b", "a\tb", "a\nb")
    val packed = ss.map(s => s -> SuffixExprs.packedPrefix8(
      UTF8String.fromString(s)))
    for ((s1, p1) <- packed; (s2, p2) <- packed) {
      val bytesCmp = math.signum(
        s1.take(8).compareTo(s2.take(8))).toInt
      assert(math.signum(java.lang.Long.compare(p1, p2)) == bytesCmp,
        s"order mismatch for '$s1' vs '$s2'")
    }
    def lcp(a: String, b: String): Long = SuffixExprs.commonPrefixChars(
      UTF8String.fromString(a), UTF8String.fromString(b))
    assert(lcp("", "") == 0L)
    assert(lcp("abc", "abd") == 2L)
    assert(lcp("abc", "abc") == 3L)
    assert(lcp("abc", "abcdef") == 3L)
    assert(lcp("日本語x", "日本語y") == 3L) // multi-byte chars count as 1
    assert(lcp("日本", "日生") == 1L) // diff inside a 3-byte char: no partial
  }

  test("saWithAdjacent: inline pairs == adjacentLcp self-join; ranks match") {
    for (c <- Seq(32, 128)) {
      val adj = SuffixArray.saWithAdjacent(df, "doc_id", "text", c)
        .localCheckpoint(true)
      val ranks = adj.collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos")) ->
          r.getAs[Long]("sa_rank")).toMap
      val wantRanks = SuffixArray.suffixRanks(df, "doc_id", "text", c)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(ranks == wantRanks, s"cap=$c ranks")
      val pairs = adj.where(col("doc_a").isNotNull)
        .select("doc_a", "pos_a", "doc_id", "pos", "lcp")
        .collect()
        .map(r => ((r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)),
          r.getLong(4))).toMap
      val want = SuffixArray.adjacentLcp(
          SuffixArray.saWithWindows(df, "doc_id", "text", c))
        .collect()
        .map(r => ((r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)),
          r.getLong(4))).toMap
      assert(pairs == want, s"cap=$c pairs")
      // exactly one row (the global first) has no predecessor
      assert(adj.where(col("doc_a").isNull).count() == 1L)
    }
  }
}
