package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, Pq}
import graft.fixtures.Synthetic
import graft.geo.Geo
import graft.graph.{ConnectedComponents, DistPeel, DownOps, Flow, GraphBuild, WaterwayFeatures}
import graft.pipeline.Extras
import graft.runtime.{CheckpointGen, Ranks, Sessions, Trace}
import graft.text.{SuffixArray, TextOps}
import graft.web.LinkGraph

/** Two-parallelism evidence harness (the north rule, BASELINE.md): one
  * entry's job at local[lo] and local[hi] on the same deterministic
  * input. Reps alternate lo/hi so a co-tenant steal burst cannot poison
  * one side; the wall time per config is the min over reps, and
  * efficiency = (t_lo / t_hi) / (hi / lo). Every run's invariants — row
  * counts and order-free checksums, pure functions of the data — must
  * be identical, or the run fails. An entry with a size gate first runs
  * both sides of it at a small size and requires equal invariants.
  *
  *   sbt 'runMain graft.tools.ScaleEvidence <entry> [size] [lo] [hi] [reps]'
  *
  * Defaults: the entry's reported size, lo 4, hi 16, 2 reps. Shuffle
  * partitions are 4 × cores on both sides. Prints one JSON line:
  * metric, size, cpus_lo/hi, t_lo_s/t_hi_s, efficiency, then the
  * entry's invariants. BENCH.md "Reproduce" maps every reported line to
  * its command.
  */
object ScaleEvidence {

  /** Named invariants, in print order; every run must produce equal ones. */
  type Invariants = Seq[(String, Any)]

  /** A float compared within 1e-9 relative, not bit for bit: a sum whose
    * last bits move with the summation order. */
  final case class Approx(v: Double) {
    override def equals(o: Any): Boolean = o match {
      case Approx(w) => math.abs(v - w) <= 1e-9 * math.max(1.0, math.abs(v))
      case _         => false
    }
    override def hashCode: Int = 0
    override def toString: String = v.toString
  }

  /** Both sides of an entry's size gate at `size` must give equal
    * invariants after `key`. `reference` is the exact path (single-task
    * port, local branch or unfiltered join); `scale` is the timed one. */
  final case class Parity[A](
      size: Long,
      reference: (A, Long) => Invariants,
      scale: (A, Long) => Invariants,
      key: Invariants => Invariants = identity[Invariants] _)

  /** @param metric the JSON `metric` value (unchanged from the committed lines)
    * @param size   the default size (the reported run's)
    * @param small  a size that runs in seconds, for specs and smoke runs
    * @param fixture deterministic input, built before the clock starts
    * @param facts  untimed figures of the input, checked like invariants
    * @param op     the timed job; returns its output's invariants
    */
  final case class Entry[A](
      name: String, metric: String, size: Long, small: Long,
      fixture: (SparkSession, Long) => A,
      op: (A, Long) => Invariants,
      facts: (A, Long) => Invariants = (_: A, _: Long) => Nil,
      parity: Option[Parity[A]] = None)

  /** `rows`, an order-free `checksum` (sum of xxhash64 over `cols`) and
    * the `extra` aggregates of `df`, in one job. */
  private def digest(df: DataFrame, cols: Column*)(extra: (String, Column)*): Invariants = {
    val aggs = Seq("rows" -> count(lit(1)), "checksum" -> sum(xxhash64(cols: _*))) ++ extra
    val r = df.agg(aggs.head._2, aggs.tail.map(_._2): _*).head()
    aggs.indices.map(i => aggs(i)._1 -> r.get(i))
  }

  private def prefixed(p: String)(inv: Invariants): Invariants =
    inv.map { case (k, v) => (p + k, v) }

  private def ckpt(df: DataFrame): DataFrame = df.localCheckpoint(true)

  private def survivors: Column =
    sum(when(col("is_survivor") === 1L, 1L).otherwise(0L))

  // ---- fixtures ----

  /** n docs in families of 4: one base + three single-token perturbations.
    * Tokens are family-suffixed, so cross-family Jaccard is 0, while the
    * within-family 3-shingle Jaccard is ≈ 0.82–0.90 (n/4 clusters of 4).
    * 64 tokens a doc; a pure function of doc_id. */
  def documents(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).selectExpr(
      "id AS doc_id",
      """array_join(transform(sequence(0, 63), j ->
        |  CASE WHEN id % 4 > 0
        |            AND j = CAST((id DIV 4 + (id % 4) * 17) % 64 AS INT)
        |    THEN concat('x', id % 4, '_', id DIV 4)
        |    ELSE concat('w', ((id DIV 4) * 1000003 + j * 40503) % 50021,
        |                 '_', id DIV 4)
        |  END), ' ') AS text""".stripMargin.replace("\n", " "))

  /** n vectors in planted pairs: even ids are 64-dim hash-derived bases in
    * [-1,1]^64, odd ids perturb their base by ≤ 0.0015 a component
    * (cosine ≥ 0.9999). xxhash64 mixing, not an affine form: affine
    * generators make consecutive groups near-parallel and chain-merge
    * whole clusters. */
  private def pairedEmbeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).selectExpr(
      "id AS vec_id",
      """transform(sequence(0, 63), j ->
        |  CAST(((xxhash64(id DIV 2, j) % 2000003) + 2000003) % 2000003
        |    AS DOUBLE) / 2000003.0 * 2 - 1
        |  + CASE WHEN id % 2 = 1
        |      THEN ((id * 31 + j) % 7 - 3) * 0.0005 ELSE 0.0 END)
        |AS v""".stripMargin.replace("\n", " "))

  /** 24 deterministic tokens derived from a bigint expression. */
  private def textOf(k: String): String =
    s"""array_join(transform(sequence(0, 23), j ->
       |  concat('t', (($k) * 1000003 + j * 40503) % 899981, '_', ($k) % 977)
       |), ' ')""".stripMargin.replace("\n", " ")

  /** Bloom dedup input: snapshot ids [0, nSnap), batch ids [nSnap,
    * nSnap + nSnap/100); 30 % of batch texts repeat a scattered snapshot
    * text, the rest are new. */
  private def bloomInput(spark: SparkSession, nSnap: Long): (DataFrame, DataFrame) = (
    ckpt(spark.range(nSnap).selectExpr("id AS doc_id", s"${textOf("id")} AS text")),
    ckpt(spark.range(nSnap / 100).selectExpr(
      s"id + $nSnap AS doc_id",
      s"""CASE WHEN id % 10 < 3
         |  THEN ${textOf(s"(id * 7919) % $nSnap")}
         |  ELSE ${textOf(s"id + $nSnap")}
         |END AS text""".stripMargin.replace("\n", " "))))

  /** Comb component: trunk 0..k-1 chained, tributary j a chain of k nodes
    * hanging off trunk node j — k² + k − 1 edges, one component, longest
    * chain k + 1. The single-task ports hold the whole component in one
    * task; the scale paths hold one chain. */
  private def comb(spark: SparkSession, k: Long): DataFrame =
    spark.range(k * k + k - 1).selectExpr(
      s"""CASE WHEN id < $k * $k THEN
         |  CASE WHEN id % $k = 0 THEN id DIV $k
         |       ELSE $k + id - 1 END
         |ELSE id - $k * $k END AS src""".stripMargin.replace("\n", " "),
      s"""CASE WHEN id < $k * $k THEN $k + id
         |ELSE id - $k * $k + 1 END AS dst""".stripMargin.replace("\n", " "))

  /** The comb with its trunk closed into a ring plus 64 long-range trunk
    * chords: cyclic and conflict-free (every trunk node is a pillar). */
  private def ringComb(spark: SparkSession, k: Long): DataFrame = {
    val chords = 64L
    val step = math.max(1L, k / chords)
    comb(spark, k)
      .unionByName(spark.range(1).selectExpr(s"${k - 1} AS src", "0 AS dst"))
      .unionByName(spark.range(chords).selectExpr(
        s"(id * $step) % $k AS src",
        s"((id * $step) + ($k DIV 2)) % $k AS dst"))
  }

  /** Directed comb, one tag group: trunk 0→1→…→k-1 (mouth k-1), tributary
    * j a chain of k nodes flowing into trunk node j; k² + k − 1 edges. */
  private def riverComb(spark: SparkSession, k: Long): DataFrame =
    spark.range(k * k + k - 1).selectExpr(
      s"CASE WHEN id < $k * $k THEN $k + id ELSE id - $k * $k END AS src",
      s"""CASE WHEN id < $k * $k THEN
         |  CASE WHEN id % $k = $k - 1 THEN id DIV $k ELSE $k + id + 1 END
         |ELSE id - $k * $k + 1 END AS dst""".stripMargin.replace("\n", " "))

  /** Zipf-target links: each node emits 3 links to `n div (1 + h(id, i))`,
    * so node 1 collects ~n/2 in-links. */
  private def hubEdges(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("src"),
        explode(array((0 to 2).map(i => expr(
          s"${n}L DIV (1L + pmod(id * 2654435761L + ${40503L * i + 7}L, ${n}L))")
        ): _*)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  private def nodesOf(edges: DataFrame): DataFrame =
    ckpt(Synthetic.nodesForNids(edges.select(col("src").as("nid"))
      .unionByName(edges.select(col("dst").as("nid"))).distinct()))

  private def docIds(spark: SparkSession, n: Long): DataFrame =
    ckpt(spark.range(n).select(col("id").as("doc_id")))

  // ---- operators ----

  /** Planet lump: contraction, CC, per-component lengths; with `geomChunk`
    * also the chunked DistPeel geometry over every component. Component
    * structure is hashed; the float length total is compared within 1e-9
    * (a 16M-way run's per-component sums straddle rounding boundaries
    * between summation orders). */
  private def lump(ways: DataFrame, geomChunk: Option[Long]): Invariants = {
    val spark = ways.sparkSession
    val edges = ckpt(GraphBuild.canonicalUndirected(
      GraphBuild.contractedEdges(ckpt(ways), spark)).toDF())
    val nodes = nodesOf(edges)
    val cc = ConnectedComponents.run(edges.select("src", "dst"))
    val segs = edges
      .join(cc.labels.withColumnRenamed("nid", "src"), Seq("src"))
      .join(nodes.select(col("nid").as("src"), col("lat").as("lat1"),
        col("lon").as("lon1")), Seq("src"))
      .join(nodes.select(col("nid").as("dst"), col("lat").as("lat2"),
        col("lon").as("lon2")), Seq("dst"))
    val s = segs.groupBy("comp")
      .agg(count(lit(1)).as("n_edges"),
        sum(Geo.haversineM(col("lat1"), col("lon1"), col("lat2"), col("lon2"))).as("len"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(comp, n_edges))"), lit(0L)),
        sum("len"))
      .head()
    val base = Seq("cc_rounds" -> cc.rounds, "n_components" -> s.getLong(0),
      "checksum" -> s.getLong(1), "total_len_m" -> Approx(s.getDouble(2)))
    // every edge is covered by exactly one peeled segment pair
    base ++ geomChunk.toSeq.flatMap { chunk =>
      val labelled = segs.select(col("comp"), col("src"), col("dst"),
        array(col("src"), col("dst")).as("nids"),
        array(col("lat1"), col("lat2")).as("lats"),
        array(col("lon1"), col("lon2")).as("lons"),
        col("lat1"), col("lon1"))
      val g = DistPeel.peelSegments(DistPeel.withChunk(labelled, chunk), spark)
        .agg(count(lit(1)), countDistinct(col("comp"), col("line_idx")),
          sum(size(col("nids")) - 1))
        .head()
      Seq("geom_segments" -> g.getLong(0), "geom_lines" -> g.getLong(1),
        "geom_covered_edges" -> g.getLong(2))
    }
  }

  /** Weak scaling: the 4M-way density (4096 buckets) at every size. */
  private def lumpBuckets(n: Long): Long =
    math.max(Synthetic.Buckets, n * Synthetic.Buckets / 4000000L)

  private def lumpEntry(name: String, geomChunk: Option[Long]) =
    Entry[DataFrame](name, "scaling", 16000000L, 20000L,
      // the ways are generated and checkpointed inside the timed window
      (spark, n) => Synthetic.ways(spark, n, buckets = lumpBuckets(n)),
      (ways, _) => lump(ways, geomChunk),
      facts = (_, n) => Seq("buckets" -> lumpBuckets(n)) ++
        geomChunk.map("geom_chunk" -> _))

  private type Graph = (DataFrame, DataFrame) // (edges, nodes)

  private def frames(limit: Long)(g: Graph, k: Long): Invariants =
    digest(Extras.frames(g._1, g._2, g._1.sparkSession, limit),
      col("comp"), col("line_idx"), col("line"))()

  private def betweenness(limit: Long)(g: Graph, k: Long): Invariants =
    digest(Extras.betweennessGrouped(g._1, g._2, g._1.sparkSession,
        sizeThreshold = limit),
      col("comp"), col("src"), col("dst"), col("chain"))(
      "value_sum" -> sum(col("value")))

  private def betweennessEntry(name: String, shape: String,
      edges: (SparkSession, Long) => DataFrame) =
    Entry[Graph](name, "betweenness_at_scale", 1500L, 32L,
      (spark, k) => {
        val e = ckpt(edges(spark, k).withColumn("comp", lit(1L)))
        (e, nodesOf(e))
      },
      betweenness(1L),
      // measured: ring-comb chords can coincide as undirected pairs
      facts = (g, _) => Seq("shape" -> shape, "edges" -> g._1
        .select(least(col("src"), col("dst")), greatest(col("src"), col("dst")))
        .distinct().count()),
      // the comb weights resolve to integers, yet the two paths sum in
      // different orders: topology exact, value sum within 1e-9
      parity = Some(Parity(64L, betweenness(Long.MaxValue), betweenness(1L),
        _.map { case (k, v: Double) => k -> Approx(v); case kv => kv })))

  /** Grouped waterway features of the river comb; dyadic flows that vary
    * by edge make every junction pick by flow. */
  private def riverFeatures(limit: Long)(g: Graph): DataFrame = {
    val (edges, nodes) = g
    WaterwayFeatures.groupedWaterwayFeatures(
      edges.select(col("src"), col("dst"), lit("R").as("tag"), lit(0L).as("tag_group_nid")),
      edges.select(col("src"), col("dst"), lit(1.0).as("len")),
      edges.select(col("src"), col("dst"),
        (((col("src") * 7 + col("dst")) % 16).cast("double") * 0.25).as("flow_m")),
      nodes, sizeThreshold = limit)
  }

  /** The features themselves, for a byte-for-byte parity compare. */
  private def riverFeatureMap(limit: Long)(g: Graph, k: Long): Invariants = {
    val m = riverFeatures(limit)(g).select("gkey", "feature").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    require(m.nonEmpty, "the river comb produced no feature")
    Seq("features" -> m)
  }

  private def longestSourceMouth(limit: Long)(e: DataFrame, n: Long): Invariants =
    digest(Extras.longestSourceMouth(e, e.sparkSession, limit),
      col("mouth"), col("source"), floor(col("dist_m") * 10 + 0.5),
      concat_ws(",", col("path")))("sum_dist" -> sum(col("dist_m")))

  private def plainDedup(in: (DataFrame, DataFrame), n: Long): Invariants =
    digest(Dedup.incremental(in._1, in._2, "doc_id", "text"),
      col("text_md5"), col("keep_id"))()

  private def bloomDedup(in: (DataFrame, DataFrame), n: Long): Invariants =
    digest(Dedup.incrementalBloom(in._1, in._2, "doc_id", "text",
        estimatedItems = n / 100, numBits = n / 100 * 16),
      col("text_md5"), col("keep_id"))()

  // ---- registry ----

  val entries: Seq[Entry[_]] = Seq(
    lumpEntry("lump", None),
    lumpEntry("lump-geom", Some(500L)),

    // 5 exact-integer PageRank rounds over 3·n synthetic links (q76)
    Entry[DataFrame]("pagerank", "pagerank_at_scale", 8000000L, 20000L,
      docIds,
      (nodes, n) => {
        val r = LinkGraph.pagerank(nodes, LinkGraph.syntheticEdges(nodes, n), n)
        digest(r, col("doc_id"), col("rank_ppb"))("total_rank" -> sum(col("rank_ppb")))
      }),

    // IVF ANN (q-family of Dedup.ivfCosineTopK): 1024 lists, probe 4, top 10
    Entry[DataFrame]("ivf", "ivf_at_scale", 1000000L, 2000L,
      (spark, n) => ckpt(Synthetic.embeddings(spark, n)),
      (emb, _) => digest(Dedup.ivfCosineTopK(emb, "vec_id", "embedding", 10,
          nlist = 1024, nprobe = 4),
        col("qid"), col("nid"), col("rank"), floor(col("sim") * 1000000.0 + 0.5))(),
      facts = (_, _) => Seq("nlist" -> 1024, "nprobe" -> 4, "k" -> 10)),

    // PQ-ADC ANN (q111): every 1000th vector queries its top 10
    Entry[DataFrame]("pq", "pq_at_scale", 1000000L, 4000L,
      (spark, n) => ckpt(Synthetic.embeddings(spark, n)),
      (emb, _) => digest(Pq.pqAdcTopK(emb, "vec_id", "embedding", 10, queryMod = 1000L),
        col("qid"), col("rank"), col("nid"), col("adist"))()),

    // MinHash-LSH candidates → exact Jaccard verify → CC collapse (q32/q59/q64)
    Entry[DataFrame]("dedup", "dedup_at_scale", 500000L, 2000L,
      (spark, n) => ckpt(documents(spark, n)),
      (docs, _) => {
        // the distinct shingle-hash set feeds both banding and verify;
        // AQE picks the join strategies from runtime sizes
        val sets = ckpt(docs.select(col("doc_id").as("id"),
          Dedup.distinctShingleHashes(col("text")).as("hs")))
        val withA = sets.select(col("id").as("id_a"), col("hs").as("hs_a"))
          .join(Dedup.minhashCandidatesFromHashes(sets), Seq("id_a"))
        val pairs = sets.select(col("id").as("id_b"), col("hs").as("hs_b"))
          .join(withA, Seq("id_b"))
          .filter(Dedup.jaccardByHashSets(col("hs_a"), col("hs_b")) >= 0.5)
          .select("id_a", "id_b")
        digest(Dedup.nearDupCollapse(pairs, docs.select("doc_id"), "doc_id"),
          col("doc_id"), col("survivor"), col("cluster_size"))("clusters" -> survivors)
      }),

    // SemDeDup (q73): integer k-means (k = 512) + within-cluster cosine CC
    Entry[DataFrame]("semdedup", "semdedup_at_scale", 800000L, 2000L,
      (spark, n) => ckpt(pairedEmbeddings(spark, n)),
      (vecs, _) => digest(Dedup.semanticDedup(vecs, "vec_id", "v", k = 512, iters = 2,
          tauE6 = 990000L),
        col("vec_id"), col("cluster"), col("survivor"), col("comp_size"))(
        "survivors" -> survivors),
      facts = (_, _) => Seq("k" -> 512)),

    // bigram-LM bits (q94): broadcast head, shuffled tail
    Entry[DataFrame]("lm", "lm_at_scale", 1000000L, 2000L,
      (spark, n) => ckpt(documents(spark, n)),
      (docs, _) => digest(TextOps.bigramLmBits(docs, "doc_id", "text"),
        col("doc_id"), col("n_bigrams"), col("lm_bits"))("bits" -> sum(col("lm_bits")))),

    // token-budget mixture selection (q91) with a 30 % mega-domain; the
    // budget is a quarter of the corpus tokens, so the cut bites everywhere
    Entry[DataFrame]("mixture", "mixture_at_scale", 2000000L, 2000L,
      (spark, n) => ckpt(documents(spark, n).withColumn("source",
        when(col("doc_id") % 10 < 3, lit("s0"))
          .otherwise(concat(lit("s"), (col("doc_id") % 997 + 1).cast("string"))))),
      (docs, n) => digest(TextOps.mixtureSelect(docs, "doc_id", "source", "text", 16L * n),
        col("doc_id"), col("n_tokens"), col("cum_tokens"), col("selected"))(
        "n_sel" -> sum(col("selected")),
        "sel_tok" -> sum(col("selected") * col("n_tokens")))),

    // stratified split (q84), Zipf mass (q85), per-domain boilerplate (q86)
    Entry[DataFrame]("curation", "curation_at_scale", 500000L, 2000L,
      (spark, n) => ckpt(documents(spark, n).withColumn("source",
        concat(lit("s"), (col("doc_id") % 1000).cast("string")))),
      (docs, _) =>
        prefixed("split_")(digest(TextOps.stratifiedSplit(docs, "doc_id", "text"),
          col("doc_id"), col("bucket"), col("split"))()) ++
        prefixed("zipf_")(digest(TextOps.zipfMass(docs, "doc_id", "text"),
          col("doc_id"), col("n_tokens"), col("n_terms"), col("zipf_bits"))()) ++
        prefixed("boiler_")(digest(TextOps.boilerplateStats(docs, "doc_id", "source", "text"),
          col("doc_id"), col("n_grams"), col("n_boiler"), col("boiler_ppm"))())),

    // Gopher repetition signals (q67) + TF-IDF top 3 (q69)
    Entry[DataFrame]("corpus-stats", "corpus_stats_at_scale", 500000L, 2000L,
      (spark, n) => ckpt(documents(spark, n)),
      (docs, _) =>
        prefixed("rep_")(digest(TextOps.repetitionStats(docs, "doc_id", "text"),
          col("doc_id"), col("n_tokens"), col("top2_e6"), col("dup2_e6"),
          col("top3_e6"), col("dup3_e6"))()) ++
        prefixed("tfidf_")(digest(TextOps.tfidfTopTerms(docs, "doc_id", "text", 3),
          col("doc_id"), col("term"), col("tf"), col("df"), col("score_e6"),
          col("rnk"))())),

    // BPE trainer (q112): 3 merges over the vocab-collapsed corpus
    Entry[DataFrame]("bpe", "bpe_at_scale", 2000000L, 2000L,
      (spark, n) => ckpt(documents(spark, n)),
      (docs, _) => digest(TextOps.bpeTrain(docs, "text", 3),
        col("merge_rank"), col("lt"), col("rt"), col("n_occ"), col("vocab_tokens"),
        col("corpus_tokens"))()),

    // sequence packing (q81): exact global prefix sum + explode to 2048-token
    // sequences; doc lengths 1..4096 are generated inside the timed window
    Entry[DataFrame]("pack", "pack_at_scale", 50000000L, 20000L,
      (spark, n) => spark.range(n).select(col("id").as("doc_id"),
        (pmod(xxhash64(col("id"), lit(0x9e3779b97f4a7c15L)), lit(4096L)) + 1L).as("n")),
      (docs, _) => {
        val seqLen = 2048L
        val packed = Ranks.withGlobalCumsumLong(docs, Seq(col("doc_id")), col("n"), "c")
          .withColumn("g", col("c") - col("n"))
          .withColumn("seq_id",
            explode(sequence(expr(s"g DIV ${seqLen}L"), expr(s"(c - 1L) DIV ${seqLen}L"))))
          .select(col("doc_id"), col("seq_id"),
            (greatest(col("g"), col("seq_id") * seqLen) - col("g")).as("doc_off"),
            (least(col("c"), (col("seq_id") + 1L) * seqLen) -
              greatest(col("g"), col("seq_id") * seqLen)).as("n_tok"))
        digest(packed, col("doc_id"), col("seq_id"), col("doc_off"), col("n_tok"))(
          "tok_sum" -> sum(col("n_tok")), "n_seqs" -> (max(col("seq_id")) + 1L))
      }),

    // degree-ordered triangle counting (q93) on a hub-skewed graph; the
    // untimed wedge counts show the orientation keeps the hub's wedges O(E)
    Entry[(DataFrame, DataFrame)]("triangles", "triangles_at_scale", 6000000L, 20000L,
      (spark, n) => (docIds(spark, n), ckpt(hubEdges(spark, n))),
      (g, _) => digest(LinkGraph.triangleCounts(g._1, g._2),
        col("doc_id"), col("deg"), col("n_tri"), col("cc_ppm"))(
        "triangles" -> expr("sum(n_tri) DIV 3")),
      facts = (g, _) => {
        val und = g._2.select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"))
          .where(col("u") =!= col("v")).distinct()
        val deg = ckpt(und.select(col("u").as("x")).unionAll(und.select(col("v").as("x")))
          .groupBy("x").agg(count(lit(1)).as("deg")))
        val k = deg.select(col("x"), (col("deg") * lit(4294967296L) + col("x")).as("k"))
        val enumerated = und
          .join(k.select(col("x").as("u"), col("k").as("ku")), Seq("u"))
          .join(k.select(col("x").as("v"), col("k").as("kv")), Seq("v"))
          .select(when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("f"))
          .groupBy("f").agg(count(lit(1)).as("od"))
          .agg(sum(expr("od * (od - 1) DIV 2"))).head().getLong(0)
        val d = deg.agg(sum(expr("deg * (deg - 1) DIV 2")), max(col("deg"))).head()
        Seq("max_degree" -> d.getLong(1), "wedges_enumerated" -> enumerated,
          "wedges_naive" -> d.getLong(0))
      }),

    // bounded 3-core peel (q101) + label propagation (q107), 4 rounds each,
    // on the div-graph (dst = src div {2,3}); removals per round show the
    // shrinking frontier
    Entry[(DataFrame, DataFrame)]("peel", "peel_at_scale", 16000000L, 20000L,
      (spark, n) => {
        val nodes = docIds(spark, n)
        (nodes, ckpt(LinkGraph.divEdges(nodes)))
      },
      (g, _) => {
        val (nodes, edges) = g
        val kc = ckpt(LinkGraph.kcorePeel(nodes, edges, k = 3, rounds = 4))
        val perRound = kc.groupBy("removed_round").agg(count(lit(1)))
          .orderBy("removed_round").collect().map(_.getLong(1)).toSeq
        prefixed("kcore_")(digest(kc, col("doc_id"), col("removed_round"),
          col("deg_final"))()) ++
          Seq("removed_per_round" -> perRound) ++
          prefixed("lpa_")(digest(LinkGraph.labelPropagation(nodes, edges, rounds = 4),
            col("doc_id"), col("label"))("labels" -> countDistinct(col("label"))))
      }),

    // suffix array + adjacent-pair LCP (q109/q110); size is the doc count.
    // Near-duplicate families share long windows across documents
    Entry[DataFrame]("suffix", "suffix_at_scale", 30000L, 50L,
      (spark, n) => ckpt(documents(spark, n)),
      (docs, _) => {
        val sa = ckpt(SuffixArray.saWithWindows(docs, "doc_id", "text"))
        prefixed("sa_")(digest(sa, col("doc_id"), col("pos"), col("sa_rank"))()) ++
          prefixed("dup_")(digest(SuffixArray.dupSubstrStats(docs, sa, "doc_id"),
            col("doc_id"), col("n_dup_adj"), col("max_dup_len"), col("sum_dup_len"))(
            "mass" -> sum(col("sum_dup_len"))))
      }),

    // Bloom-prefiltered incremental dedup (q83): snapshot of `size` docs
    // vs a 1 % daily batch; snap_hits is how much of the snapshot survives
    // the prefilter into the anti-join exchange
    Entry[(DataFrame, DataFrame)]("bloom", "bloom_dedup_at_scale", 20000000L, 20000L,
      bloomInput, bloomDedup,
      facts = (in, n) => {
        val bloom = Dedup.bloomOver(in._2.select(md5(col("text")).as("text_md5")),
          "text_md5", estimatedItems = n / 100, numBits = n / 100 * 16)
        Seq("n_batch" -> n / 100, "snap_hits" -> in._1
          .select(md5(col("text")).as("text_md5"))
          .filter(Dedup.mightContain(bloom, col("text_md5"))).count())
      },
      parity = Some(Parity(20000L, plainDedup, bloomDedup))),

    // frames (P6) on a comb of side `size`: single-task port vs scale path
    Entry[Graph]("frames", "frames_at_scale", 1500L, 32L,
      (spark, k) => {
        val e = ckpt(comb(spark, k))
        (e, nodesOf(e))
      },
      frames(1L),
      facts = (_, k) => Seq("edges" -> (k * k + k - 1), "longest_chain" -> (k + 1)),
      parity = Some(Parity(64L, frames(Long.MaxValue), frames(1L)))),

    // betweenness (P8) on the comb tree and on its cyclic ring variant
    betweennessEntry("betweenness", "tree", comb),
    betweennessEntry("betweenness-cyclic", "cyclic", ringComb),

    // D16 grouped waterways on one river-comb tag group: single-task walk
    // vs DistContract.contractDirected scale path, byte-for-byte at parity size
    Entry[Graph]("d16-walk", "d16_walk_at_scale", 1500L, 24L,
      (spark, k) => {
        val e = ckpt(riverComb(spark, k))
        (e, nodesOf(e))
      },
      (g, _) => digest(riverFeatures(1L)(g), col("gkey"), col("feature"))(),
      facts = (_, k) => Seq("edges" -> (k * k + k - 1), "longest_chain" -> k),
      parity = Some(Parity(48L, riverFeatureMap(Long.MaxValue), riverFeatureMap(1L)))),

    // the distributed D16 bundle at `size` edges: tag-group CC → upstream
    // flows → grouped features, 106-edge chains (150k groups at 16M)
    Entry[DataFrame]("d16", "d16_at_scale", 16000000L, 20000L,
      (spark, n) => ckpt(Synthetic.riverForest(spark, n, math.max(1L, n / 106))),
      (e, _) => {
        val tg = ckpt(DownOps.tagGroupCC(e.select("src", "dst", "tag")))
        val flows = ckpt(Flow.upstreamFlowHybrid(e.select("src", "dst", "len")
            .withColumn("tag", lit(null).cast("string")))
          .edgeFlow.select("src", "dst", "flow_m"))
        Seq("n_groups" -> tg.select("tag", "tag_group_nid").distinct().count()) ++
          digest(WaterwayFeatures.groupedWaterwayFeatures(
              tg, e.select("src", "dst", "len"), flows, nodesOf(e)),
            col("gkey"), col("feature"))()
      }),

    // D17 longest source → mouth on the river forest (100-edge chains),
    // forced down the distributed topo-DP + binary-lifting branch
    Entry[DataFrame]("d17", "d17_at_scale", 4000000L, 20000L,
      (spark, n) => ckpt(Synthetic.riverForest(spark, n, math.max(1L, n / 100))
        .select("src", "dst", "len")),
      longestSourceMouth(0L),
      parity = Some(Parity(20000L, longestSourceMouth(Long.MaxValue),
        longestSourceMouth(0L)))),

    // raw engine primitives (md5 map, high-cardinality groupBy, sort-merge
    // join, explode+agg): what the host itself scales to
    Entry[DataFrame]("micro", "micro", 20000000L, 20000L,
      (spark, n) => ckpt(spark.range(n).selectExpr("id", "(id * 2654435761) % 100000000 AS k")),
      (base, n) => Seq(
        "md5_len" -> base.select(sum(length(md5(concat_ws("_", col("id"), col("k"))))))
          .head().getLong(0),
        "groups" -> base.groupBy("k").count().count(),
        "join_rows" -> base.join(base.where(col("id") % 10 === 0)
          .selectExpr("k", "id AS id2"), Seq("k")).count(),
        "explode_groups" -> base.sparkSession.range(n / 20)
          .selectExpr("id", "sequence(id*20, id*20 + 19) AS arr")
          .select(explode(col("arr")).as("x"))
          .groupBy(col("x") % 1000000).count().count()))
  )

  // ---- harness ----

  /** Run `body`, then release every RDD it persisted (blocking: the
    * caller may stop the session next). */
  private def released[T](spark: SparkSession)(body: => T): T = {
    val (v, made) = CheckpointGen.persisted(spark.sparkContext)(body)
    CheckpointGen.release(made, blocking = true)
    v
  }

  /** One run on `spark`: the wall seconds of `op` and the invariants
    * (facts first). The run's [[Trace]] record goes to stderr. */
  def measure[A](e: Entry[A], spark: SparkSession, size: Long): (Double, Invariants) =
    released(spark) {
      val trace = Trace.setup(spark)
      val in = e.fixture(spark, size)
      val facts = e.facts(in, size)
      trace.begin()
      val t0 = System.nanoTime()
      val inv = e.op(in, size)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println("[trace] " + trace.end(secs, None, "entry" -> e.name, "size" -> size,
        "cpus" -> spark.sparkContext.defaultParallelism).json)
      (secs, facts ++ inv)
    }

  /** Both sides of the entry's size gate at its parity size (no-op
    * without one); throws if they differ. */
  def checkParity[A](e: Entry[A], spark: SparkSession): Unit =
    e.parity.foreach { p =>
      released(spark) {
        val in = e.fixture(spark, p.size)
        val (a, b) = (p.reference(in, p.size), p.scale(in, p.size))
        require(p.key(a) == p.key(b),
          s"${e.name}: the gate's two sides differ at size ${p.size}: ${json(a)} vs ${json(b)}")
      }
      System.err.println(s"[scale-evidence] ${e.name} parity at size ${p.size}: identical")
    }

  def json(kvs: Invariants): String = {
    def value(v: Any): String = v match {
      case s: String    => "\"" + s + "\""
      case m: Map[_, _] => s"""{"entries":${m.size}}"""
      case xs: Seq[_]   => xs.map(value).mkString("[", ",", "]")
      case x            => String.valueOf(x)
    }
    kvs.map { case (k, v) => "\"" + k + "\":" + value(v) }.mkString("{", ",", "}")
  }

  /** The whole evidence run for one entry; returns the JSON line. */
  def evidence[A](e: Entry[A], size: Long, lo: Int, hi: Int, reps: Int): String = {
    def onSession[T](cpus: Int)(f: SparkSession => T): T = {
      val spark = Sessions.local(cpus, cpus * 4)
      try f(spark) finally spark.stop()
    }
    onSession(hi)(checkParity(e, _))
    val runs = for (r <- 1 to reps; cpus <- Seq(lo, hi)) yield {
      val (secs, inv) = onSession(cpus)(measure(e, _, size))
      System.err.println(f"[scale-evidence] ${e.name} rep=$r cpus=$cpus wall=$secs%.1fs ${json(inv)}")
      (cpus, secs, inv)
    }
    require(runs.forall(_._3 == runs.head._3),
      s"${e.name}: invariants differ across runs: " +
        runs.map(r => s"cpus=${r._1} ${json(r._3)}").mkString("; "))
    val tLo = runs.filter(_._1 == lo).map(_._2).min
    val tHi = runs.filter(_._1 == hi).map(_._2).min
    def round(x: Double, places: Int) = BigDecimal(x).setScale(places,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    json(Seq("metric" -> e.metric, "size" -> size, "cpus_lo" -> lo, "cpus_hi" -> hi,
      "t_lo_s" -> round(tLo, 1), "t_hi_s" -> round(tHi, 1),
      "efficiency" -> round(tLo / tHi / (hi.toDouble / lo), 3)) ++ runs.head._3)
  }

  def main(args: Array[String]): Unit = {
    val e = entries.find(e => args.headOption.contains(e.name)).getOrElse {
      System.err.println("usage: ScaleEvidence <entry> [size] [lo] [hi] [reps]\n" +
        "entries: " + entries.map(_.name).mkString(", "))
      sys.exit(2)
    }
    def arg(i: Int, default: Long): Long = args.lift(i).map(_.toLong).getOrElse(default)
    println(evidence(e, arg(1, e.size), arg(2, 4).toInt, arg(3, 16).toInt, arg(4, 2).toInt))
  }
}
