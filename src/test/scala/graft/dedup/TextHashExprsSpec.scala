package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.text.TextOps
import TextHashExprsSpec.shingleHashes

/** The fused ShingleHashes / TokenHashes63 expressions must be bit-equal
  * to the HOF formulations the DuckDB oracles replay — including the
  * tokenizer corner cases (repeated/leading/trailing spaces, unicode
  * multi-byte tokens, fewer tokens than the shingle width, empty and
  * whitespace-only strings) and array_distinct's first-occurrence order.
  */
class TextHashExprsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val vocab = Vector("fox", "dog", "ünïcødé", "журавль", "a", "🦊",
    "the", "quick", "brown", "x1", "", " ")
  private val adversarial = Seq(
    "", " ", "   ", "one", "one two", "one two three",
    "  leading", "trailing  ", "double  space", " all  of   them  ",
    "ünïcødé журавль 🦊 mixed ascii", "same same same same")
  private val randomTexts = (1 to 50).map { _ =>
    (0 until rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size)))
      .mkString(" ")
  }
  private def df = (adversarial ++ randomTexts).zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("ShingleHashes(distinct=false) ≡ transform(shingles, md5h32)") {
    df.select(col("id"),
        shingleHashes(col("text")).as("native"),
        Dedup.shingleHashesHof(col("text")).as("hof"))
      .collect()
      .foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"shingle-hash mismatch for id=${r.getLong(0)}"))
  }

  test("ShingleHashes(distinct=true) ≡ array_distinct(HOF), order included") {
    df.select(col("id"),
        Dedup.distinctShingleHashes(col("text")).as("native"),
        array_distinct(Dedup.shingleHashesHof(col("text"))).as("hof"))
      .collect()
      .foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"distinct shingle-hash mismatch for id=${r.getLong(0)}"))
  }

  test("TokenHashes63 ≡ transform(tokens, md5h63); empty text → empty array") {
    val got = df.select(col("id"),
        Dedup.tokenHashes63(col("text")).as("native"),
        transform(TextOps.tokens(col("text")), t => Dedup.md5h63(t)).as("hof"),
        col("text"))
      .collect()
    got.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
      s"token-hash mismatch for id=${r.getLong(0)}"))
    got.filter(_.getString(3).trim.isEmpty)
      .foreach(r => assert(r.getSeq[Long](1).isEmpty))
  }

  test("different shingle widths stay equivalent") {
    Seq(1, 2, 5).foreach { w =>
      df.select(
          shingleHashes(col("text"), w).as("native"),
          Dedup.shingleHashesHof(col("text"), w).as("hof"))
        .collect()
        .foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"w=$w mismatch"))
    }
  }

  /** Pure-Scala winnowing reference: rightmost argmin per window over
    * the staged ordered shingle hashes (the SWA §3 rule).
    */
  private def winnowRef(hs: Seq[Long], win: Int): Seq[(Long, Long)] = {
    val n = hs.length
    val m = if (n <= win) 1 else n - win + 1
    (0 until m).map { j =>
      val end = math.min(j + win, n)
      val p = (j until end).foldLeft(j)((acc, i) =>
        if (hs(i) <= hs(acc)) i else acc)
      (p.toLong, hs(p))
    }.distinct
  }

  test("WinnowFingerprints ≡ pure-Scala reference on adversarial texts") {
    val (w, win) = (3, 4)
    df.select(col("id"),
        shingleHashes(col("text"), w).as("hs"),
        Dedup.winnowFingerprints(col("text"), w, win).as("enc"))
      .collect()
      .foreach { r =>
        val expected = winnowRef(r.getSeq[Long](1), win)
        val got = r.getSeq[Long](2)
          .map(e => (e >> 32, e & 0xffffffffL))
        assert(got == expected, s"winnow mismatch for id=${r.getLong(0)}")
        // coverage guarantee: every window selects something, so the gap
        // between consecutive selected positions is < win
        got.map(_._1).sliding(2).foreach {
          case Seq(a, b) => assert(b - a < win)
          case _ =>
        }
        assert(got.nonEmpty) // ≥1 fingerprint even for empty text
      }
  }

  test("winnowing guarantee: a shared ≥ w+win−1 token run shares a fingerprint") {
    val (w, win) = (3, 4)
    val run = "alpha beta gamma delta epsilon zeta" // w+win−1 = 6 tokens
    val a = s"first document starts here $run and then diverges completely"
    val b = s"unrelated opening words $run with a different continuation"
    val fps = Seq((1L, a), (2L, b)).toDF("id", "text")
      .select(col("id"), Dedup.winnowFingerprints(col("text"), w, win).as("e"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).map(_ & 0xffffffffL).toSet)
      .toMap
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
  }
}

object TextHashExprsSpec {
  /** Every shingle hash of `text`, duplicates kept and in order: the
    * non-distinct form of the native pass that `Dedup.shingleHashesHof`
    * formulates with higher-order functions. */
  def shingleHashes(text: Column, w: Int = 3): Column =
    GraftColumnBridge.column(graft.functions.ShingleHashes(
      GraftColumnBridge.expression(text), w, distinct = false))
}
