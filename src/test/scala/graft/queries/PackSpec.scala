package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.runtime.Ranks

/** Invariants for the training-sequence shaping ops (q80/q81) and the
  * exact-integer global cumsum they ride on.
  */
class PackSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("withGlobalCumsumLong is exact and partitioning-independent") {
    val df = (1L to 1000L).map(i => (i, i % 97)).toDF("k", "v")
    val a = Ranks.withGlobalCumsumLong(df, Seq(col("k")), col("v"), "c")
      .orderBy("k").select("k", "c").as[(Long, Long)].collect()
    // closed form: sum of (i % 97) for i <= k
    var run = 0L
    val expect = (1L to 1000L).map { i => run += i % 97; (i, run) }
    assert(a.toSeq === expect)
    val sp = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val b = Ranks.withGlobalCumsumLong(df, Seq(col("k")), col("v"), "c")
        .orderBy("k").select("k", "c").as[(Long, Long)].collect()
      assert(b.toSeq === expect)
    } finally spark.conf.set("spark.sql.shuffle.partitions", sp)
  }

  // run q80/q81 over a tiny staged documents.parquet with known token counts
  private def withDocs[A](f: String => A): A = withTempDir("packspec") { d =>
    val docs = Seq(
      (1L, ("a " * 300).trim, "en", "s", 0L), // 300 tokens: multi-chunk
      (2L, "b b b", "en", "s", 0L),           // 3 tokens: single chunk
      (3L, "", "en", "s", 0L),                // empty doc
      (4L, ("c " * 128).trim, "en", "s", 0L)) // exactly one window
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    f(d)
  }

  test("topFractionPerGroup: exact per-group ranks and ceil quota, " +
      "mega-group safe, partitioning-independent") {
    // group "big" has 70 rows, "a"/"b" 15 each; score = descending value
    val rows = (0 until 100).map { i =>
      val g = if (i < 70) "big" else if (i < 85) "a" else "b"
      (i.toLong, g, (1000 - i).toLong)
    }
    val df = rows.toDF("id", "g", "score")
    def run(d: org.apache.spark.sql.DataFrame) =
      Ranks.topFractionPerGroup(d, "g",
        Seq(col("score").desc, col("id").asc), 300000L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
    val got = run(df)
    assert(got.length == 100)
    for ((g, n) <- Seq(("big", 70L), ("a", 15L), ("b", 15L))) {
      val grp = got.filter(_._2 == g).sortBy(_._4)
      // ranks are 1..n_g dense, in (score desc, id) order
      assert(grp.map(_._4).toSeq == (1L to n).toSeq)
      assert(grp.map(_._3).toSeq == grp.map(_._3).sortBy(-_).toSeq)
      // kept = exact integer ceiling of 30 %
      val keepN = (n * 300000L + 999999L) / 1000000L
      assert(grp.count(_._5 == 1L) == keepN)
      assert(grp.filter(_._5 == 1L).map(_._4).max == keepN)
    }
    // ceil check on the odd sizes: 15 · 0.3 = 4.5 → 5
    assert(got.filter(r => r._2 == "a" && r._5 == 1L).length == 5)
    assert(run(df.repartition(7)).toSet == got.toSet)
  }

  test("q80: windows cover every token, stride 96, width <= 128") {
    val rows = withDocs(d => QueriesPack.queries("q80_chunk_windows")(spark, d)
      .as[(Long, Long, Long, Long)].collect()).groupBy(_._1)
    // doc 1: n=300 -> nchunks = ceil((300-128)/96)+1 = 3; starts 0,96,192
    assert(rows(1L).map(r => (r._2, r._3, r._4)).sortBy(_._1).toSeq ===
      Seq((0L, 0L, 128L), (1L, 96L, 128L), (2L, 192L, 108L)))
    // every token index of doc 1 is inside some window
    val covered = rows(1L).flatMap(r => r._3 until (r._3 + r._4)).toSet
    assert(covered === (0L until 300L).toSet)
    assert(rows(2L).map(r => (r._2, r._3, r._4)).toSeq === Seq((0L, 0L, 3L)))
    assert(rows(3L).map(r => (r._2, r._3, r._4)).toSeq === Seq((0L, 0L, 0L)))
    assert(rows(4L).map(r => (r._2, r._3, r._4)).toSeq === Seq((0L, 0L, 128L)))
  }

  test("q81: packed spans partition each doc and fill every sequence") {
    val out = withDocs(d => QueriesPack.queries("q81_seq_pack")(spark, d)
      .as[(Long, Long, Long, Long)].collect())
    // per-doc token conservation (empty doc 3 emits nothing)
    val perDoc = out.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(perDoc === Map(1L -> 300L, 2L -> 3L, 4L -> 128L))
    // stream = docs in doc_id order: 300 + 3 + 128 = 431 tokens ->
    // seq 0 holds 256, seq 1 holds 175
    val perSeq = out.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    assert(perSeq === Map(0L -> 256L, 1L -> 175L))
    // doc 1 straddles the cut: 256 tokens in seq 0, 44 in seq 1
    val d1 = out.filter(_._1 == 1L).map(r => (r._2, r._3, r._4)).sortBy(_._1)
    assert(d1.toSeq === Seq((0L, 0L, 256L), (1L, 256L, 44L)))
  }
}
