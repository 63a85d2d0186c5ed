package graft.dedup

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the third ANN scale path beside sign-LSH
  * (q50) and IVF (q56), and the missing half of the production IVF-PQ
  * config at 10¹²-vector scale: the index stores m sub-codes per vector
  * (m bytes at ksub ≤ 256) instead of dim floats — a 32× compression at
  * dim=64/m=8 — and query-time distances are m table lookups instead of
  * dim multiplies.
  *
  * Everything after the initial ×2²⁰ quantization is EXACT integer
  * arithmetic (the semanticDedup/IVF treatment): codebooks train with
  * integer-L2 argmin assignment ([[graft.functions.QuantArgMin]], ties →
  * lowest code) and integer-mean updates (the +2²⁰ offset keeps every
  * component non-negative so truncating and floor division agree across
  * engines — and the offset cancels inside every L2 difference), so
  * codes, LUTs and ADC distances are bit-identical in Spark and DuckDB
  * at any parallelism.
  *
  * 100 TB shape:
  * - training: per Lloyd iteration ONE codegen'd narrow scan (codebooks
  *   ride as an O(m·ksub·d) plan reference) plus one map-side-combined
  *   groupBy collecting m·ksub·d partial sums — the MLlib k-means shape,
  *   m independent sub-space problems in a single pass;
  * - encode: one narrow scan; the codes frame (id, m sub-codes) is the
  *   persistent index;
  * - search: the query set is a BOUNDED probe set (size-gated like the
  *   kNN straggler broadcast); its m·ksub LUT broadcasts and ONE
  *   mapPartitions scan keeps a per-query bounded top-k — no
  *   query×vector row ever materializes (the q31 broadcast-scan lesson).
  *   Unbounded query workloads route each query through the same LUT
  *   scan sharded by IVF list instead.
  */
object Pq {

  /** PQ-ADC approximate top-k: trains m sub-codebooks (ksub centroids
    * each, `iters` Lloyd rounds from the ksub lowest-id seed vectors),
    * encodes every vector, and answers the deterministic query subset
    * (id % queryMod == 0) with asymmetric-distance top-k
    * (self excluded; ties → lowest nid).
    * Output: (qid, rank, nid, adist) — adist the exact integer ADC
    * distance in quantized-component² units.
    *
    * Empty input returns an empty frame; a non-empty input must carry
    * at least `ksub` vectors (codebook training seeds one centroid per
    * vector), enforced with a `require`.
    */
  def pqAdcTopK(
      embeddings: DataFrame, idCol: String, vecCol: String, k: Int = 3,
      m: Int = 8, ksub: Int = 16, iters: Int = 2, queryMod: Long = 20L,
      maxQueries: Long = 100000L): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    require(k >= 1 && m >= 1 && ksub >= 1 && iters >= 0)

    val vecs = embeddings
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v")) // float→double exact
      .withColumn("qv", transform(col("v"), x =>
        floor(x * lit(1048576.0) + lit(0.5)).cast("long") + lit(1048576L)))
      .select("id", "qv")
      .localCheckpoint(true)

    def emptyOut: DataFrame =
      spark.emptyDataset[(Long, Long, Long, Long)]
        .toDF("qid", "rank", "nid", "adist")

    val head = vecs.limit(1).as[(Long, Array[Long])].collect()
    if (head.isEmpty) return emptyOut
    val dim = head.head._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m blocks")
    val d = dim / m

    // sub-codebook seeds: the ksub lowest-id vectors' block slices
    val seedRows = vecs.orderBy(col("id")).limit(ksub)
      .as[(Long, Array[Long])].collect().sortBy(_._1).map(_._2)
    require(seedRows.length == ksub,
      s"pqAdcTopK: only ${seedRows.length} vectors but ksub=$ksub — " +
        "codebook training needs at least ksub vectors; lower ksub to " +
        "at most the vector count")
    var cents: Array[Array[Array[Long]]] =
      Array.tabulate(m)(b => seedRows.map(_.slice(b * d, b * d + d)))

    def codesOf(cs: Array[Array[Array[Long]]]): DataFrame = {
      val codeCols = (0 until m).map { b =>
        GraftColumnBridge.column(graft.functions.QuantArgMin(
          GraftColumnBridge.expression(
            slice(col("qv"), b * d + 1, d)), cs(b)))
      }
      vecs.select(col("id"), col("qv"), array(codeCols: _*).as("codes"))
    }

    for (_ <- 1 to iters) {
      // exact integer sub-centroid update: O(m·ksub·d) rows to the driver
      val stats = codesOf(cents)
        .select(col("qv"), posexplode(col("codes")).as(Seq("b", "code")))
        .select(col("b"), col("code"),
          posexplode(slice(col("qv"), col("b") * lit(d) + lit(1), lit(d)))
            .as(Seq("pos", "x")))
        .groupBy("b", "code", "pos")
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .as[(Int, Long, Int, Long, Long)].collect()
        .groupBy(r => (r._1, r._2))
      cents = Array.tabulate(m)(b => Array.tabulate(ksub) { c =>
        stats.get((b, c.toLong)) match {
          case Some(rows) => rows.sortBy(_._3).map(r => r._4 / r._5) // qv≥0
          case None       => cents(b)(c) // empty class keeps its centroid
        }
      })
    }

    val codes = codesOf(cents).select("id", "codes")

    // bounded deterministic query set + its ADC lookup tables
    val qs = vecs.filter(col("id") % queryMod === 0L)
    val nq = qs.count()
    require(nq <= maxQueries,
      s"pqAdcTopK: $nq queries exceed the $maxQueries broadcast gate — " +
        "raise queryMod or shard the scan by IVF list")
    val queries = qs.as[(Long, Array[Long])].collect().sortBy(_._1)
    if (queries.isEmpty) return emptyOut
    val qids = queries.map(_._1)
    val luts: Array[Array[Long]] = queries.map { case (_, qv) =>
      val a = new Array[Long](m * ksub)
      var b = 0
      while (b < m) {
        var c = 0
        while (c < ksub) {
          val cent = cents(b)(c)
          var s = 0L
          var i = 0
          while (i < d) {
            val df = qv(b * d + i) - cent(i); s += df * df; i += 1
          }
          a(b * ksub + c) = s
          c += 1
        }
        b += 1
      }
      a
    }
    val bc = spark.sparkContext.broadcast((qids, luts))
    val kk = k

    // one scan, per-query bounded top-k per partition (ties → lowest nid)
    val cand = codes.as[(Long, Array[Long])].mapPartitions { it =>
      val (ids, ls) = bc.value
      val nQ = ids.length
      val bD = Array.fill(nQ * kk)(Long.MaxValue)
      val bN = Array.fill(nQ * kk)(Long.MaxValue)
      it.foreach { case (nid, cds) =>
        var qi = 0
        while (qi < nQ) {
          if (ids(qi) != nid) {
            val l = ls(qi)
            var dist = 0L
            var b = 0
            while (b < cds.length) {
              dist += l(b * ksub + cds(b).toInt); b += 1
            }
            val base = qi * kk
            var pos = kk
            while (pos > 0 && {
              val pd = bD(base + pos - 1)
              dist < pd || (dist == pd && nid < bN(base + pos - 1))
            }) pos -= 1
            if (pos < kk) {
              var j = kk - 1
              while (j > pos) {
                bD(base + j) = bD(base + j - 1)
                bN(base + j) = bN(base + j - 1)
                j -= 1
              }
              bD(base + pos) = dist
              bN(base + pos) = nid
            }
          }
          qi += 1
        }
      }
      (0 until nQ).iterator.flatMap { qi =>
        (0 until kk).iterator
          .filter(j => bD(qi * kk + j) != Long.MaxValue)
          .map(j => (ids(qi), bN(qi * kk + j), bD(qi * kk + j)))
      }
    }.toDF("qid", "nid", "adist")

    // exact global merge of the per-partition top-ks (≤ parts·nq·k rows;
    // the window partitions by qid — never a single-partition stage)
    cand.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist"), col("nid"))))
      .filter(col("rank") <= kk)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("nid"), col("adist"))
  }
}
