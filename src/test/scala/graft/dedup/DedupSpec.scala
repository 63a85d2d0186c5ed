package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.text.TextOps
import TextHashExprsSpec.shingleHashes

/** Pins the semantics of the oracle-less dedup operators (MinHash-LSH,
  * SimHash) plus the text primitives.
  */
class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 5
  private val nearDup = base.replace("lazy", "sleepy")
  private val other = "completely different words appear in this document body " * 5

  private def docs = Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, other))
    .toDF("doc_id", "text")

  /** (id, hs): every shingle hash of each doc's text. */
  private def textHashes(d: DataFrame): DataFrame =
    d.select(col("doc_id").as("id"), shingleHashes(col("text")).as("hs"))

  /** Exact n-gram Jaccard |A ∩ B| / |A ∪ B| over distinct shingle hashes. */
  private def ngramJaccard(a: Column, b: Column): Column =
    Dedup.jaccardByHashSets(
      Dedup.distinctShingleHashes(a), Dedup.distinctShingleHashes(b))

  test("exact dedup keeps min id per identical text") {
    val r = Dedup.exact(docs, "doc_id", "text")
      .collect().map(x => (x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((1L, 2L), (3L, 1L), (4L, 1L))) // (keep_id, n_copies)
  }

  test("repetition stats: top/dup n-gram fractions, hand-computed") {
    val rd = Seq(
      (1L, "a b a b a"), // 2-grams: {a b:2, b a:2}; 3-grams: {a b a:2, b a b:1}
      (2L, "x y z"),     // all unique
      (3L, "solo"),      // no n-grams
      (4L, "")           // no tokens
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(rd, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))
      .toMap
    assert(r(1L) == ((5L, 800000L, 1600000L, 1200000L, 1200000L)))
    assert(r(2L) == ((3L, 666667L, 0L, 1000000L, 0L)))
    assert(r(3L) == ((1L, 0L, 0L, 0L, 0L)))
    assert(r(4L) == ((0L, 0L, 0L, 0L, 0L)))
  }

  test("quota sample: stratum rates honoured, deterministic across reruns") {
    val docs = spark.range(0, 2000)
      .selectExpr("id AS doc_id",
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'zz' END AS lang")
    val rates = Map("en" -> 500000L)
    val r = TextOps.quotaSample(docs, "doc_id", "lang", rates, 0L)
      .collect().map(x => (x.getLong(0), x.getString(1)))
    assert(r.forall(_._2 == "en")) // default rate 0 drops every 'zz'
    // ~half the 1000 'en' docs survive (md5 keep key is uniform-ish)
    assert(r.length > 350 && r.length < 650)
    val again = TextOps.quotaSample(docs, "doc_id", "lang", rates, 0L)
      .collect().map(x => (x.getLong(0), x.getString(1)))
    assert(r.sorted.toSeq == again.sorted.toSeq)
  }

  test("tfidf top terms: rare terms outrank common ones, exact scores") {
    val docs = Seq(
      (1L, "common rare1 common"), // tf(common)=2 df=3; tf(rare1)=1 df=1
      (2L, "common other"),
      (3L, "common other")
    ).toDF("doc_id", "text")
    val r = TextOps.tfidfTopTerms(docs, "doc_id", "text", 2)
      .collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).toSet
    // n_docs=3 → idf numerator 4e6: score = tf*4e6 div (df+1)
    assert(r == Set(
      (1L, "common", 2L, 3L, 2000000L, 1L), // 2*4e6/4, tie → term asc wins
      (1L, "rare1", 1L, 1L, 2000000L, 2L),  // 1*4e6/2
      (2L, "other", 1L, 2L, 1333333L, 1L),  // 1*4e6/3
      (2L, "common", 1L, 3L, 1000000L, 2L),
      (3L, "other", 1L, 2L, 1333333L, 1L),
      (3L, "common", 1L, 3L, 1000000L, 2L)))
  }

  test("tfidf top terms ≡ brute force on a seeded random corpus") {
    val rng = new scala.util.Random(42)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    val corpus = (1L to 60L).map { id =>
      (id, Seq.fill(1 + rng.nextInt(40))(vocab(rng.nextInt(vocab.size)))
        .mkString(" "))
    }
    val k = 3
    val got = TextOps.tfidfTopTerms(corpus.toDF("doc_id", "text"), "doc_id",
        "text", k)
      .collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).toSet
    // brute force: same rational integer scoring, same tie-break
    val toks = corpus.map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty).toSeq }.toMap
    val n = corpus.size.toLong
    val dfreq = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (w, o) => w -> o.size.toLong }
    val want = toks.flatMap { case (id, ts) =>
      ts.groupBy(identity).toSeq
        .map { case (w, o) =>
          (w, o.size.toLong, dfreq(w),
            o.size.toLong * (n + 1) * 1000000L / (dfreq(w) + 1)) }
        .sortBy { case (w, _, _, sc) => (-sc, w) }
        .take(k).zipWithIndex
        .map { case ((w, tf, df, sc), i) => (id, w, tf, df, sc, i + 1L) }
    }.toSet
    assert(got == want)
  }

  test("quota sample: empirical keep rate within binomial bounds at 20k") {
    val docs = spark.range(0, 20000)
      .selectExpr("id AS doc_id", "'en' AS lang")
    val n = TextOps.quotaSample(docs, "doc_id", "lang",
      Map("en" -> 250000L), 0L).count()
    // p=0.25, n=20k → σ≈61; ±5σ band (md5 keep key must be uniform)
    assert(n > 4694 && n < 5306, s"kept $n of 20000 at rate 0.25")
  }

  test("passage dedup: global first occurrence keeps, partial tail window") {
    val pd = Seq(
      (1L, "a b c d e f g"), // [a b c][d e f][g] — all first occurrences
      (2L, "a b c x y z"),   // [a b c] dups doc 1's; [x y z] unique
      (3L, ""),              // no tokens → no rows
      (4L, "a b c")          // [a b c] — duplicate, nothing kept
    ).toDF("doc_id", "text")
    val r = Dedup.passageDedup(pd, "doc_id", "text", w = 3)
      .collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
      .toMap
    assert(r == Map(
      1L -> ((3L, 1L, 3L, 7L)),
      2L -> ((2L, 1L, 1L, 3L)),
      4L -> ((1L, 1L, 0L, 0L))))
    assert(!r.contains(3L)) // empty doc produces no passages
  }

  test("identical texts have identical minhash signatures") {
    val sigs = docs
      .select(col("doc_id"), shingleHashes(col("text")).as("hs"))
      .select(col("doc_id"), Dedup.minhashSignatureFromHashes(col("hs")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    assert(sigs(1L).length == 64)
    // near-dup shares most hash slots
    val agree = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree > 20, s"near-dup should agree on many minhashes, got $agree/64")
  }

  test("signature jaccard estimates: 1 for identical docs, low for unrelated") {
    val sigs = docs
      .select(col("doc_id"),
        Dedup.minhashSignatureFromHashes(shingleHashes(col("text"))).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    // the estimate: the fraction of agreeing hashes
    val est = (for ((a, sa) <- sigs; (b, sb) <- sigs if a < b)
      yield (a, b) -> sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.size)
      .toMap
    assert(est((1L, 2L)) == 1.0) // identical docs agree on every hash
    assert(est((1L, 3L)) > 0.3) // near-dup estimate well above unrelated
    assert(est((1L, 4L)) < 0.1)
  }

  test("LSH candidates surface exact and near duplicates, not unrelated docs") {
    val cands = Dedup.minhashCandidatesFromHashes(textHashes(docs))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(cands.contains((1L, 2L)))
    assert(cands((1L, 2L)) == 16L) // identical docs share every band
    assert(cands.contains((1L, 3L)) || cands.contains((2L, 3L)))
    assert(!cands.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical equal; near-dup within small hamming distance") {
    val hs = docs
      .select(col("doc_id"), Dedup.simhashFromHashes(Dedup.tokenHashes63(col("text"))).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hs(1L) == hs(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hs(1L), hs(3L)) <= 16)
    assert(hamming(hs(1L), hs(4L)) > 16)
  }

  test("ngram jaccard: identity 1, disjoint 0, near-dup in between") {
    val df = Seq((base, base, nearDup, other)).toDF("a", "b", "c", "d")
    val r = df.select(
      ngramJaccard(col("a"), col("b")).as("same"),
      ngramJaccard(col("a"), col("c")).as("near"),
      ngramJaccard(col("a"), col("d")).as("far")).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) > 0.2 && r.getDouble(1) < 1.0)
    assert(r.getDouble(2) == 0.0)
  }

  test("cosine top-k: exact values on tiny vectors") {
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val top1 = Dedup.cosineTopK(e, "vec_id", "embedding", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
      .sortBy(_._1)
    assert(top1.map(t => (t._1, t._2)) == List((1L, 3L), (2L, 3L), (3L, 1L)))
    assert(math.abs(top1.head._3 - 1.0 / math.sqrt(2)) < 1e-12)
    // tie between 1 and 2 for query 3 broken by min id
  }

  test("marginMine: integer margins replay exactly; hubs suppressed; " +
      "partitioning-invariant") {
    // two tight pairs + one hub vector similar to everything
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.99f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)), (4L, Seq(0.1f, 0.99f, 0.0f)),
      (5L, Seq(0.6f, 0.6f, 0.5f)))
    val df = vecs.toDF("vec_id", "embedding")
    val topk = Dedup.bruteForceCosineTopK(df, "vec_id", "embedding", 2)
    // plain-Scala replay of the documented integer formula
    val e6 = topk.collect().map(r =>
      (r.getLong(0), r.getLong(1), math.floor(r.getDouble(2) * 1e6 + 0.5).toLong))
    val sums = e6.groupBy(_._1).map { case (q, xs) =>
      q -> ((xs.map(_._3).sum, xs.length.toLong)) }
    val expect = e6.flatMap { case (q, n, s) =>
      val (sa, ka) = sums(q); val (sb, kb) = sums(n)
      val den = sa * kb + sb * ka
      if (den > 0) Some((q, n, s, 2L * s * ka * kb * 1000000L / den)) else None
    }.toSet
    def run(t: org.apache.spark.sql.DataFrame) =
      Dedup.marginMine(t, Long.MinValue).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = run(topk)
    assert(got == expect)
    // the close pairs clear margin 1.0; the hub never does as a query
    val kept = Dedup.marginMine(topk).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept.contains((1L, 2L)) && kept.contains((3L, 4L)))
    assert(!kept.exists(_._1 == 5L))
    // integer math + per-row integerisation ⇒ partitioning-invariant
    assert(run(topk.repartition(7)) == got)
  }

  test("mirrorDomains: dup-linked domains cluster, evidence counted, " +
      "isolated domain is its own canonical cluster") {
    val docs = Seq(
      (1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"),
      (5L, "C"), (6L, "D"), (7L, "E")).toDF("doc_id", "source")
    // A↔B via two doc pairs (one also intra-A: must be dropped),
    // C↔D via one pair
    val pairs = Seq((1L, 3L), (2L, 4L), (1L, 2L), (5L, 6L))
      .toDF("id_a", "id_b")
    val got = Dedup.mirrorDomains(docs, pairs, "doc_id", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.size == 5)
    // A and B share a cluster of 2; so do C and D; E is alone
    assert(got("A")._1 == got("B")._1 && got("A")._2 == 2L)
    assert(got("C")._1 == got("D")._1 && got("C")._2 == 2L)
    assert(got("C")._1 != got("A")._1)
    assert(got("E")._2 == 1L && got("E")._4 == 1L && got("E")._3 == 0L)
    // evidence: A-B has 2 cross-domain pairs (intra-A pair dropped)
    assert(got("A")._3 == 2L && got("B")._3 == 2L)
    assert(got("C")._3 == 1L && got("D")._3 == 1L)
    // exactly one canonical per cluster
    assert(got.values.count(_._4 == 1L) == 3)
  }

  test("mixtureSelect: greedy hash-order prefix per domain, exact quota, " +
      "partitioning-invariant") {
    import graft.text.TextOps
    // two domains, ten 4-token docs each → tok_mass 40/40, weights 1.0,
    // alloc = floor(budget·1e6/1e6) = budget
    val docs = (0 until 20).map { i =>
      (i.toLong, if (i < 10) "a" else "b", "w x y z" + i)
    }.toDF("doc_id", "source", "text")
    def md5h32(s: String): Long =
      java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val budget = 18L // 4 full docs + a 2-token remainder → cut mid-domain
    val rows = TextOps.mixtureSelect(docs, "doc_id", "source", "text", budget)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length == 20)
    for (dom <- Seq("a", "b")) {
      val inOrder = rows.filter(_._2 == dom)
        .sortBy { case (id, _, _, _, _) => (md5h32(s"$id:w x y z$id"), id) }
      // cum_tokens is the running sum in (content-hash, id) order
      assert(inOrder.map(_._4).toSeq ==
        inOrder.map(_._3).scanLeft(0L)(_ + _).tail.toSeq)
      // selected = the exact greedy prefix under the quota
      assert(inOrder.map(_._5).toSeq ==
        inOrder.map(t => if (t._4 <= budget) 1L else 0L).toSeq)
      // budget 18 over 4-token docs → exactly 4 docs make the cut
      assert(inOrder.count(_._5 == 1L) == 4)
    }
    // two-phase prefix sum ⇒ identical output at any input partitioning
    val rows7 = TextOps.mixtureSelect(docs.repartition(7), "doc_id",
      "source", "text", budget)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows7.toSet == rows.toSet)
  }

  test("editVerifiedPairs: exact Levenshtein ppm on LSH candidates only") {
    val a = "the quick brown fox jumps over the lazy dog and then runs far away"
    val b = a.replace("runs", "walks") // near-dup: shares almost all shingles
    val c = Seq.fill(12)("entirely unrelated wording here").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = Dedup.editVerifiedPairs(docs, "doc_id", "text").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // plain-Scala DP replay of the exact distance
    def lev(x: String, y: String): Long = {
      val d = Array.tabulate(x.length + 1, y.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length).toLong
    }
    assert(got.contains((1L, 2L)), s"near-dup pair not a candidate: $got")
    val (l, ppm, dup) = got((1L, 2L))
    assert(l == lev(a, b))
    assert(ppm == l * 1000000L / math.max(a.length, b.length))
    assert(dup == 1L)
    // the unrelated doc never reaches the verify stage
    assert(!got.keySet.exists { case (x, y) => x == 3L || y == 3L })
  }

  test("ANN sign-LSH: exact-duplicate vectors always land together; " +
      "recall vs brute force is high on clustered data") {
    // 40 vectors in 4 tight clusters of 10 (deterministic jitter)
    val vecs = (0 until 40).map { i =>
      val c = i % 4
      val base = Array.tabulate(8)(d => if (d == c * 2) 10.0f else 1.0f)
      base(i % 8) += (i % 3) * 0.01f
      (i.toLong, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Dedup.bruteForceCosineTopK(df, "vec_id", "embedding", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ann = Dedup.annCosineTopK(df, "vec_id", "embedding", 1, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // recall@1: ANN's top-1 cosine within 1e-6 of exact top-1 cosine
    // (ties inside a cluster are fine; cross-cluster misses are not)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / math.sqrt(a.map(x => x.toDouble * x).sum) /
        math.sqrt(b.map(x => x.toDouble * x).sum)
    }
    val byId = vecs.toMap
    val ok = exact.keys.count { q =>
      ann.get(q).exists(n =>
        cos(byId(q), byId(n)) >= cos(byId(q), byId(exact(q))) - 1e-6)
    }
    assert(ok >= 36, s"ANN recall too low: $ok/40") // ≥90 % on clusters
    // routing: the size gate sends small inputs to brute force
    val routed = Dedup.cosineTopK(df, "vec_id", "embedding", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(routed == exact)
  }

  test("simhash pairs: exactly the Hamming<=3 pairs of the brute force") {
    // real testdata texts; brute-force all-pairs Hamming as the oracle
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val sh = docs.select(col("doc_id"), Dedup.simhashFromHashes(Dedup.tokenHashes63(col("text"))).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      ham = java.lang.Long.bitCount(sa ^ sb) if ham <= 3
    } yield (a, b, ham.toLong)).toSet
    val got = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // pigeonhole: bands=4 > maxHam=3 ⇒ full recall, and the exact
    // verify kills every beyond-threshold bucket collision
    assert(got === expected)
  }

  test("staged hash-set path ≡ text path (jaccard + candidates)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "completely different words here nothing shared at all"))
      .toDF("doc_id", "text")
    // pairwise jaccard from staged sets equals the from-text form
    val sets = docs.select(col("doc_id"), Dedup.distinctShingleHashes(col("text")).as("hs"))
    val both = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .join(sets.select(col("doc_id").as("ida"), col("hs").as("ha")), col("a.doc_id") === col("ida"))
      .join(sets.select(col("doc_id").as("idb"), col("hs").as("hb")), col("b.doc_id") === col("idb"))
      .select(
        ngramJaccard(col("a.text"), col("b.text")).as("jt"),
        Dedup.jaccardByHashSets(col("ha"), col("hb")).as("jh"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // candidates over the distinct set equal candidates from text
    // (per-hash min is duplicate-insensitive)
    val fromText = Dedup.minhashCandidatesFromHashes(textHashes(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromSets = Dedup.minhashCandidatesFromHashes(
      sets.withColumnRenamed("doc_id", "id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromText === fromSets)
    assert(fromText.nonEmpty)
  }

  test("q96 containment: brute-force replay over the LSH candidates") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val sets = docs.select(col("doc_id"),
      Dedup.distinctShingleHashes(col("text")).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val cand = Dedup.minhashCandidatesFromHashes(textHashes(docs))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = cand.map { case (a, b) =>
      val (ha, hb) = (sets(a), sets(b))
      val inter = ha.intersect(hb).size.toLong
      val ca = inter * 1000000L / ha.size
      val cb = inter * 1000000L / hb.size
      (a, b, ca, cb, if (math.max(ca, cb) >= 900000L) 1L else 0L)
    }.toSet
    val got = graft.SparkEntry.queries("q96_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("q98 winnow match: brute-force replay on real testdata") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val fps = docs.select(col("doc_id"),
        Dedup.winnowFingerprints(col("text")).as("e"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).map(_ & 0xffffffffL).toSet)
    val byFp = fps.flatMap { case (id, s) => s.map(f => f -> id) }
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).toSet }
      .filter { case (_, ids) => ids.size >= 2 && ids.size <= 1000 }
    val expected = byFp.toSeq.flatMap { case (_, ids) =>
      val sorted = ids.toSeq.sorted
      for (i <- sorted.indices; j <- i + 1 until sorted.size)
        yield (sorted(i), sorted(j))
    }.groupBy(identity).collect {
      case (p, xs) if xs.size >= 2 => (p._1, p._2, xs.size.toLong)
    }.toSet
    val got = graft.SparkEntry.queries("q98_winnow_match")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("containment is directional where jaccard is not") {
    // B = A plus a tail: every A-shingle is in B, so c(A→B) = 1e6 while
    // jaccard < 1; the constructed pair shares LSH bands (identical
    // 9-token prefix dominates the signature)
    val a = "alpha beta gamma delta epsilon zeta eta theta iota"
    val b = a + " kappa"
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val sets = df.select(col("doc_id"),
      Dedup.distinctShingleHashes(col("text")).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val inter = sets(1L).intersect(sets(2L)).size.toLong
    assert(inter == sets(1L).size.toLong) // A ⊂ B in shingle space
    val ca = inter * 1000000L / sets(1L).size
    val cb = inter * 1000000L / sets(2L).size
    assert(ca == 1000000L && cb < 1000000L)
    val jac = df.agg(ngramJaccard(
      first(when(col("doc_id") === 1L, col("text")), ignoreNulls = true),
      first(when(col("doc_id") === 2L, col("text")), ignoreNulls = true))
      .as("j")).head().getDouble(0)
    assert(jac < 1.0)
  }

  test("nearDupCollapse: transitive clusters, min-id survivor, singletons") {
    // chain 1-2, 2-3 plus pair 10-11; 20 is in no pair
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val got = Dedup.nearDupCollapse(pairs, ids, "doc_id")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set(
      (1L, 1L, 3L, 1L), (2L, 1L, 3L, 0L), (3L, 1L, 3L, 0L),
      (10L, 10L, 2L, 1L), (11L, 10L, 2L, 0L),
      (20L, 20L, 1L, 1L)))
  }

  test("benchmarkContamination: planted 13-gram overlap flags exactly its doc") {
    val gram = (1 to 13).map(i => s"w$i").mkString(" ")
    val bench = Seq((100L, s"benchmark preamble $gram benchmark suffix"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, s"clean prefix then $gram and a tail of words"), // 1 shared 13-gram window set
      (2L, "totally unrelated training document with no overlap at all " * 3),
      (3L, (1 to 12).map(i => s"w$i").mkString(" "))) // 12-token doc: one short-shingle, no match
      .toDF("doc_id", "text")
    val got = Dedup.benchmarkContamination(train, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hit1 = got.find(_._1 == 1L).get
    assert(hit1._2 >= 1L && hit1._3 == 1L)
    assert(got.find(_._1 == 2L).get == ((2L, 0L, 0L)))
    assert(got.find(_._1 == 3L).get == ((3L, 0L, 0L)))
  }

  test("tokens/quality/fingerprint primitives") {
    val df = Seq(Tuple1("  the  quick   fox  ")).toDF("text")
    val n = df.select(TextOps.tokenCount(col("text"))).head().getInt(0)
    assert(n == 3)
    val fp = Seq(Tuple1("a b c"), Tuple1("c b a"), Tuple1("a b c")).toDF("text")
      .select(TextOps.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fp(0) == fp(2))
    assert(fp(0) != fp(1), "fingerprint must be order-sensitive")
  }
}
