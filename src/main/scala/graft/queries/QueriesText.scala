package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.dedup.Dedup
import graft.tagfilter.{TagFilter, TagFilterCompiler}
import Derived._

/** Web-text / training-data operators (builder brief: dedup, similarity,
  * text analysis) plus the tag-filter DSL gate. Oracled where DuckDB can
  * express the semantics; MinHash/SimHash are rows-only + ScalaTest.
  */
object QueriesText {

  /** Shared token-count fragments (separator = single space, both sides). */
  private val sparkTokens = "filter(split(text, ' ', -1), x -> x != '')"
  private val duckTokens = "list_filter(string_split(text, ' '), x -> x <> '')"

  private def markerCaseSql(hitsOf: String => String): String = {
    val langs = TextOps.markers.keys.toSeq.sorted
    val conds = langs.zipWithIndex.map { case (l, i) =>
      val strictOver = langs.take(i).map(o => s"${hitsOf(l)} > ${hitsOf(o)}")
      val geqOver = langs.drop(i + 1).map(o => s"${hitsOf(l)} >= ${hitsOf(o)}")
      val all = (s"${hitsOf(l)} > 0" +: (strictOver ++ geqOver)).mkString(" AND ")
      s"WHEN $all THEN '$l'"
    }
    s"CASE ${conds.mkString(" ")} ELSE 'und' END"
  }

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    s.read.parquet(s"$d/$n.parquet")

  /** The suffix-array frame q109/q110 share. The ranking is ONE range
    * exchange sorting the windows themselves, so the win payload
    * already rode the only exchange — one full frame (doc_id, pos, win, sa_rank) serves
    * q109 (projection, no join) and q110 (adjacent-LCP, no rank⋈window
    * join either).
    */
  private def saMemo(s: SparkSession, d: String): DataFrame =
    memoize(s"suffixfull:$d") {
      graft.text.SuffixArray.saWithAdjacent(
        t(s, d, "documents"), "doc_id", "text", 128)
    }

  /** The exact cosine top-3 frame q31 projects and q89's margin scorer
    * consumes — one O(n²·d) brute pass per rep, not two.
    */
  private def cosineTop3Memo(s: SparkSession, d: String): DataFrame =
    memoize(s"cosinetop3:$d") {
      Dedup.cosineTopK(t(s, d, "embeddings"), "vec_id", "embedding", 3)
    }

  /** q113's deterministic phrase blocklist — one single-token phrase
    * that occurs in the corpus, one multi-word phrase, one absent term
    * (exercising the zero path). Inlined verbatim into the oracle SQL.
    */
  private val BlocklistTerms = Seq("slow", "fast table", "zzz")

  /** q68 per-language keep rates (millionths) + default for the rest. */
  private val QuotaRates = Map(
    "en" -> 700000L, "de" -> 400000L, "fr" -> 250000L, "es" -> 100000L)
  private val QuotaDefaultE6 = 50000L

  private def quotaCaseSql: String =
    QuotaRates.toSeq.sortBy(_._1)
      .map { case (l, r) => s"WHEN '$l' THEN $r" }
      .mkString("CASE lang ", " ", s" ELSE $QuotaDefaultE6 END")

  /** q71's deterministic PII injection (email + IP always, phone on
    * doc_id % 3 != 0 so counts vary) — mirrored verbatim by
    * [[piiInjectSql]]; no external data, no RNG.
    */
  private def piiInjected: org.apache.spark.sql.Column = concat(
    col("text"), lit(" contact u"), col("doc_id").cast("string"), lit("@ex"),
    (col("doc_id") % 7).cast("string"), lit(".org from 10."),
    (col("doc_id") % 256).cast("string"), lit("."),
    (col("doc_id") % 13).cast("string"), lit(".9"),
    when(col("doc_id") % 3 =!= 0,
      concat(lit(" tel 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(lit("")))

  private val piiInjectSql: String =
    "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex' || " +
      "CAST(doc_id % 7 AS VARCHAR) || '.org from 10.' || " +
      "CAST(doc_id % 256 AS VARCHAR) || '.' || " +
      "CAST(doc_id % 13 AS VARCHAR) || '.9' || " +
      "CASE WHEN doc_id % 3 <> 0 THEN ' tel 555-' || " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1-F16: compiled tag-filter DSL over the derived tags map
    "q24_tag_filter" -> ((s, d) => {
      val f = TagFilter.unsafeParse("status=F∨prio=1-URGENT∧name")
      waysDF(s, d).filter(TagFilterCompiler.compile(f, col("tags"))).select("wid")
    }),

    // F17/F18: TagGrouper coalesce + unset-drop + group count
    "q25_tag_group" -> ((s, d) =>
      waysDF(s, d)
        .withColumn("grp",
          TagFilterCompiler.groupValue(Seq("name", "prio"), col("tags")))
        .filter(col("grp").isNotNull)
        .groupBy("grp")
        .agg(count(lit(1)).as("n_ways"), min("wid").as("min_wid"))),

    // exact dedup on documents
    "q26_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")),

    // incremental exact dedup: even doc_ids play the accumulated
    // snapshot, odd doc_ids the newly-crawled batch; keep the min-id
    // first occurrence of each batch text absent from the snapshot
    "q82_incr_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.incremental(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
    }),

    // incremental dedup at crawl scale: Bloom built over the (small)
    // batch prefilters the (huge) snapshot scan before the anti-join —
    // exact result regardless of sketch parameters (no false negatives)
    "q83_bloom_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.incrementalBloom(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text")
    }),

    // deterministic stratified train/valid/test split (content+id hash)
    "q84_split" -> ((s, d) =>
      TextOps.stratifiedSplit(t(s, d, "documents"), "doc_id", "text")),

    // unigram corpus-frequency mass (exact-integer LM quality signal)
    "q85_zipf_mass" -> ((s, d) =>
      TextOps.zipfMass(t(s, d, "documents"), "doc_id", "text")),

    // per-source repeated-5-gram boilerplate fractions
    "q86_boilerplate" -> ((s, d) =>
      TextOps.boilerplateStats(t(s, d, "documents"), "doc_id", "source",
        "text")),

    // DSIR importance weights: hashed-unigram log-ratio bits vs a
    // deterministic target sample (doc_id % 5 = 0 stands in for the
    // trusted-domain subset)
    "q87_dsir_weights" -> ((s, d) =>
      TextOps.dsirWeights(t(s, d, "documents"), "doc_id", "text",
        col("doc_id") % 5 === 0)),

    // token counting
    "q27_token_count" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long")
          .as("n_tokens"))),

    // language-ID heuristic (stopword hits, deterministic argmax)
    "q28_lang_id" -> ((s, d) => {
      val langs = TextOps.markers.keys.toSeq.sorted
      val withHits = t(s, d, "documents").select(
        (col("doc_id") +: langs.map(l =>
          TextOps.markerHits(col("text"), l).cast("long").as(s"h_$l"))): _*)
      withHits.selectExpr(
        (Seq("doc_id") ++ langs.map(l => s"h_$l") :+
          s"${markerCaseSql(l => s"h_$l")} AS guess"): _*)
    }),

    // quality scoring
    "q29_quality" -> ((s, d) => {
      val cols = TextOps.qualityColumns(col("text"))
      t(s, d, "documents").select(
        (col("doc_id") +: cols.map { case (n, c) => c.as(n) }): _*)
    }),

    // byte-identity fingerprint (input_hint invariant: text survives
    // byte-identical — md5 over UTF-8 bytes in both engines)
    "q30_text_md5" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), md5(col("text")).as("text_md5"))),

    // brute-force cosine top-3 neighbours per embedding
    "q31_cosine_topk" -> ((s, d) =>
      cosineTop3Memo(s, d)
        .select(col("qid"), col("rank"), col("nid"),
          expr("CAST(FLOOR(sim * 1000000 + 0.5) AS BIGINT)").as("sim_e6"))),

    // sign-LSH ANN cosine top-3 — the 100 TB scale path for q31's
    // brute-force (bucketed equi-joins, no collect; fully DuckDB-oracled)
    "q50_ann_topk" -> ((s, d) =>
      Dedup.annCosineTopK(t(s, d, "embeddings"), "vec_id", "embedding", 3)
        .select(col("qid"), col("rank"), col("nid"),
          expr("CAST(FLOOR(sim * 1000000 + 0.5) AS BIGINT)").as("sim_e6"))),

    // margin-based neighbour mining (CCMatrix scorer) over the exact
    // top-3 frame; exact-integer margin so the oracle is float-order-proof
    "q89_margin_mine" -> ((s, d) =>
      Dedup.marginMine(cosineTop3Memo(s, d))),

    // BPE-ish subword pre-token count (GPT-2 pretokenizer regex)
    "q57_bpe_tokens" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe"))),

    // order-sensitive rolling-hash document fingerprint
    "q58_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))),

    // BPE merge-pair counting — tokenizer-training step 1: adjacent
    // character-pair frequencies weighted by word frequency; the
    // corpus collapses to the vocabulary before pair enumeration, so
    // merge-count cost is independent of corpus size
    "q102_bpe_pairs" -> ((s, d) =>
      TextOps.bpePairCounts(t(s, d, "documents"), "text")),

    // fastText-style hashed-linear quality classifier inference — the
    // model-based filter family (CCNet/RefinedWeb): one codegen'd pass,
    // deterministic bucket-derived weights, zero shuffles
    "q104_hash_classifier" -> ((s, d) =>
      TextOps.hashClassifier(t(s, d, "documents"), "doc_id", "text")),

    // the FULL iterative BPE trainer (q102 is its first pair count):
    // 3 greedy merges over the vocab-collapsed corpus, each round
    // O(vocab) — emits the merge table + post-merge token counts
    "q112_bpe_train" -> ((s, d) =>
      TextOps.bpeTrain(t(s, d, "documents"), "text", 3)),

    // the encode/apply step that pairs with q112: corpus token
    // histogram under the trained vocab — all O(vocab) after the one
    // (word, cnt) collapse
    "q115_bpe_encode" -> ((s, d) =>
      TextOps.bpeEncode(t(s, d, "documents"), "text", 3)),

    // exact per-source token-count deciles via histogram collapse —
    // the per-group window runs over DISTINCT lengths per source, never
    // the corpus (skew-proof: a mega-source costs its distinct values,
    // not its row count)
    "q116_len_deciles" -> ((s, d) =>
      TextOps.groupDeciles(
        t(s, d, "documents").select(col("source"),
          expr(s"cast(size($sparkTokens) as bigint)").as("len")),
        "source", "len")),

    // phrase-blocklist gate — the universal first crawl filter: per doc,
    // non-overlapping substring occurrences of each blocklist phrase
    // (replace-length arithmetic: identical left-to-right non-overlap
    // semantics in Spark and DuckDB), distinct phrases hit, block flag.
    // Pure scan, zero shuffles, whole-stage codegen.
    // per-source HyperLogLog distinct-token registers — the mergeable
    // cardinality sketch (Flajolet 2007) for corpus stats at 100 TB:
    // register = max rank per (source, h mod 64), so partial aggregates
    // max-merge map-side and across shards; output is the exact integer
    // register table (the float estimate adds nothing the registers
    // don't carry — the q100 HyperBall treatment)
    "q114_hll_distinct" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("source"),
          explode(expr(s"array_distinct($sparkTokens)")).as("tok"))
        .distinct()
        .select(col("source"),
          Dedup.md5h63(concat(lit("hd:"), col("tok"))).as("h"))
        .select(col("source"), (col("h") % 64).as("reg"),
          expr("h DIV 64").as("w"))
        .select(col("source"), col("reg"),
          when(col("w") === 0L, lit(60))
            .otherwise(lit(60) - length(bin(col("w"))))
            .cast("long").as("rho"))
        .groupBy("source", "reg").agg(max("rho").as("rho"))),

    "q113_blocklist" -> ((s, d) => {
      val occ = BlocklistTerms.map(p => expr(
        s"(length(text) - length(replace(text, '$p', ''))) DIV ${p.length}"))
      val hits = BlocklistTerms.map(p =>
        when(col("text").contains(p), 1L).otherwise(0L))
      t(s, d, "documents").select(col("doc_id"),
        occ.reduce(_ + _).as("n_hit_occ"),
        hits.reduce(_ + _).as("n_hit_terms"))
        .withColumn("blocked", (col("n_hit_occ") > 0L).cast("long"))
    }),

    // count-min sketch of token frequencies — the bounded mergeable
    // summary for corpus n-gram stats; output is O(depth·width) no
    // matter the corpus size, counters add under merge
    "q105_countmin" -> ((s, d) =>
      TextOps.countMinSketch(t(s, d, "documents"), "text")),

    // winnowing fingerprints (SWA/MOSS): positioned local fingerprints
    // with the ≥ w+win−1 shared-run guarantee — the substring-level
    // plagiarism/quote index beside q58's whole-doc rolling hash and
    // q32's whole-doc MinHash sketch; one row per selected gram
    "q97_winnowing" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        explode(Dedup.winnowFingerprints(col("text"))).as("e"))
        .select(col("doc_id"),
          expr("e DIV 4294967296L").as("pos"),
          expr("e % 4294967296L").as("fp"))),

    // cross-doc winnowing match: docs sharing ≥2 selected gram hashes —
    // verbatim-run mining (quote farms, templated spam) that whole-doc
    // MinHash misses; bucket-capped like LSH (boilerplate fingerprints
    // in >maxBucket docs are dropped, not exploded)
    "q98_winnow_match" -> ((s, d) =>
      Dedup.winnowMatchPairs(t(s, d, "documents"), "doc_id", "text")),

    // distributed suffix array (Manber–Myers prefix doubling) —
    // ExactSubstr dedup step 1 (Lee et al. 2022): the global rank of
    // every doc-bounded suffix by its first 128 chars; the oracle is a
    // literal ORDER BY substr(text, pos, 128) sort in DuckDB
    "q109_suffix_array" -> ((s, d) =>
      saMemo(s, d).select("doc_id", "pos", "sa_rank")),

    // ExactSubstr step 2: exact LCP of adjacent suffix-array entries
    // (one codegen'd byte loop per pair), aggregated per doc over
    // cross-document pairs sharing >= 20 chars — the verbatim-copy
    // detector character-exact where q75's token windows are token-wise
    "q110_substr_dedup" -> ((s, d) =>
      graft.text.SuffixArray.dupSubstrStats(
        t(s, d, "documents"), saMemo(s, d), "doc_id")),

    // IVF ANN cosine top-3 — the second 100 TB scale path beside q50's
    // sign-LSH: coarse quantizer + inverted lists, nprobe equi-joins,
    // exact-integer Lloyd step (fully DuckDB-oracled)
    "q56_ivf_topk" -> ((s, d) =>
      Dedup.ivfCosineTopK(t(s, d, "embeddings"), "vec_id", "embedding", 3)
        .select(col("qid"), col("rank"), col("nid"),
          expr("CAST(FLOOR(sim * 1000000 + 0.5) AS BIGINT)").as("sim_e6"))),

    // PQ-ADC ANN top-3 — the third scale path (the PQ half of IVF-PQ):
    // m=8 integer sub-codebooks, 2 exact-integer Lloyd rounds, codes +
    // LUT-scan search; bit-exact (the oracle replays codebook training,
    // encoding and ADC in SQL)
    "q111_pq_topk" -> ((s, d) =>
      graft.dedup.Pq.pqAdcTopK(t(s, d, "embeddings"), "vec_id", "embedding", 3)),

    // MinHash-LSH near-dup candidates (md5-derived hashes — fully
    // DuckDB-oracled; DedupSpec pins the semantics too)
    "q32_minhash_lsh" -> ((s, d) => minhashCandMemo(s, d)),

    // exact n-gram Jaccard verification of the LSH candidate pairs —
    // the LSH→verify stage of the near-dup pipeline (3-shingle md5
    // hash sets, the same shingle space the banding quantizes)
    "q59_jaccard_verify" -> ((s, d) => jaccardVerifiedPairs(s, d)),

    // Broder containment of the SAME LSH candidates — the DIRECTIONAL
    // near-dup signal Jaccard misses: a short doc quoted whole inside a
    // long one has tiny Jaccard but containment ~1.0 (Broder 1997's
    // resemblance/containment pair; the quote/inclusion detector in a
    // crawl dedup pass). Exact integers end to end: no float rounding
    // to reconcile cross-engine.
    "q96_containment" -> ((s, d) => containmentPairs(s, d)),

    // mirror-domain detection: domains linked by verified cross-domain
    // near-dup docs collapse into mirror clusters via the shuffle CC
    // operator (domain-sized state); md5h63 domain node ids
    "q95_mirror_domains" -> ((s, d) =>
      Dedup.mirrorDomains(t(s, d, "documents"),
        jaccardVerifiedPairs(s, d).filter(col("is_dup") === 1L),
        "doc_id", "source")),

    // CCNet-style perplexity-filter analogue: bigram-LM conditional
    // log-prob in exact integer bits; both Zipf-headed count joins are
    // broadcast-head/shuffle-tail split (the q85 treatment)
    "q94_bigram_lm" -> ((s, d) =>
      TextOps.bigramLmBits(t(s, d, "documents"), "doc_id", "text")),

    // per-domain quality-percentile gate: keep each domain's top 30 % by
    // an integer quality score (mean-token-length composite) under an
    // EXACT per-domain rank — the count-guaranteed sibling of q68's
    // rate-based quota sampling; skew-proof two-phase rank, no
    // per-domain window
    "q92_quality_gate" -> ((s, d) => {
      val q = TextOps.qualityColumns(col("text")).toMap
      val scored = t(s, d, "documents").select(col("doc_id"), col("source"),
        (q("mean_tok_len_c") * lit(100000L) +
          least(q("n_tokens"), lit(99999L))).as("score"))
      graft.runtime.Ranks.topFractionPerGroup(scored, "source",
        Seq(col("score").desc, col("doc_id").asc), 300000L)
    }),

    // token-budget mixture selection: materialise the training mix that
    // q72 only prices — per-domain quota, deterministic hash-order
    // admission, skew-proof two-phase prefix sum (no per-domain window)
    "q91_mixture_select" -> ((s, d) =>
      TextOps.mixtureSelect(t(s, d, "documents"), "doc_id", "source",
        "text", 1000L)),

    // edit-distance verification of the SAME LSH candidates — the
    // character-level second verifier beside q59's Jaccard (catches
    // shingle-order rewrites); exact-integer Levenshtein ppm
    "q90_edit_verify" -> ((s, d) =>
      Dedup.editVerifiedPairs(t(s, d, "documents"), "doc_id", "text",
        candOpt = Some(minhashCandMemo(s, d)))),

    // near-dup CLUSTER COLLAPSE — the final dedup stage: q59's verified
    // pairs transitively closed with the shuffle CC operator, min-id
    // survivor per cluster, singletons survive themselves
    "q64_dedup_collapse" -> ((s, d) =>
      Dedup.nearDupCollapse(
        jaccardVerifiedPairs(s, d).filter(col("is_dup") === 1L)
          .select("id_a", "id_b"),
        t(s, d, "documents").select("doc_id"), "doc_id")),

    // SimHash near-dup PAIRS — the banding+verify stage over q33's
    // per-doc simhash: 16-bit-chunk buckets (pigeonhole: Hamming ≤ 3
    // pairs always share a chunk when bands = 4), exact bit_count(xor)
    // verify; no all-pairs join at any scale
    "q61_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text")),

    // embedding-cosine near-dup PAIRS — the dedup member of the
    // embedding family. The synthetic embeddings are isotropic (max
    // natural pair cosine ≈ 0.51), so the query derives a dup-planted
    // table the way Derived.waysDF derives ways from orders: each
    // vector gets a deterministically perturbed copy at id + 1e9
    // (±0.006/component → cosine ≥ 0.999 to its original), and the
    // operator must recover exactly those pairs at τ = 0.99
    "q63_embed_neardup" -> ((s, d) => {
      val base = t(s, d, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val planted = t(s, d, "embeddings")
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
          expr("transform(embedding, (x, i) -> CAST(x AS DOUBLE) + " +
            "((vec_id * 31 + i) % 7 - 3) * 0.002)").as("v"))
      Dedup.embedNearDupPairs(base.unionByName(planted), "vec_id", "v")
    }),

    // end-to-end corpus curation — the training-data pipeline composed:
    // quality gate (not-short) + language gate (marker argmax != 'und')
    // → exact dedup (min-id keeper per byte-identical text) → near-dup
    // collapse (q64 CC over q59's verified pairs, restricted to exact
    // keepers) → per-language surviving-corpus stats. Every stage is a
    // keyed shuffle or a broadcast; nothing here is new machinery, which
    // is the point: the operators compose into a curation pipeline.
    "q65_curation" -> ((s, d) => {
      val langs = TextOps.markers.keys.toSeq.sorted
      val qual = TextOps.qualityColumns(col("text")).toMap
      val scored = t(s, d, "documents").select(
        (Seq(col("doc_id"), col("text"),
          qual("n_tokens").as("n_tokens"), qual("is_short").as("is_short")) ++
          langs.map(l =>
            TextOps.markerHits(col("text"), l).cast("long").as(s"h_$l"))): _*)
        .withColumn("guess", expr(markerCaseSql(l => s"h_$l")))
      val kept = scored
        .filter(col("is_short") === 0L && col("guess") =!= "und")
      val keepers = kept
        .groupBy(md5(col("text")).as("m")).agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val pairs = jaccardVerifiedPairs(s, d).filter(col("is_dup") === 1L)
        .join(keepers.withColumnRenamed("doc_id", "id_a"), Seq("id_a"),
          "left_semi")
        .join(keepers.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
          "left_semi")
        .select("id_a", "id_b")
      val survivors = Dedup.nearDupCollapse(pairs, keepers, "doc_id")
        .filter(col("is_survivor") === 1L).select("doc_id")
      // per-language stage funnel: every stage's cardinality is pinned,
      // not just the final corpus size
      scored
        .withColumn("keptf",
          (col("is_short") === 0L && col("guess") =!= "und").cast("long"))
        .join(keepers.withColumn("keeperf", lit(1L)), Seq("doc_id"), "left")
        .join(survivors.withColumn("survf", lit(1L)), Seq("doc_id"), "left")
        .groupBy("guess")
        .agg(count(lit(1)).as("n_docs"),
          sum("keptf").as("n_kept"),
          sum(coalesce(col("keeperf"), lit(0L))).as("n_exact"),
          sum(coalesce(col("survf"), lit(0L))).as("n_surv"),
          sum(when(col("survf") === 1L, col("n_tokens")).otherwise(0L))
            .as("surv_tokens"))
        .withColumnRenamed("guess", "lang")
    }),

    // Gopher repetition quality signals — top/duplicate n-gram token
    // fractions per doc (n = 2, 3), the intra-document complement of the
    // corpus-level dedup family; doc-keyed groupBys only, no corpus key
    "q67_repetition" -> ((s, d) =>
      TextOps.repetitionStats(t(s, d, "documents"), "doc_id", "text")),

    // deterministic stratified quota sampling (data mixing) — md5 keep
    // key, per-language rates in millionths; scan-only, zero shuffles
    "q68_quota_sample" -> ((s, d) =>
      TextOps.quotaSample(t(s, d, "documents"), "doc_id", "lang",
        QuotaRates, QuotaDefaultE6)),

    // corpus-level salient terms: top-3 TF-IDF terms per doc (rational
    // idf, exact integer scoring — see TextOps.tfidfTopTerms)
    "q69_tfidf_topk" -> ((s, d) =>
      TextOps.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", 3)),

    // passage-level exact dedup — non-overlapping 10-token windows,
    // global first-occurrence keeps: the distributable granularity of
    // exact-substring dedup (suffix arrays don't shard; passage hashing
    // does). Per-doc funnel stats, fully DuckDB-oracled.
    "q66_passage_dedup" -> ((s, d) =>
      Dedup.passageDedup(t(s, d, "documents"), "doc_id", "text")),

    // benchmark decontamination — 13-gram overlap against a held-out
    // benchmark subset (doc_id % 40 = 7 stands in for the eval suite):
    // per-doc distinct-hit count + contaminated flag over the REST of
    // the corpus. Benchmark hash set broadcasts; fully DuckDB-oracled.
    "q70_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.benchmarkContamination(
        docs.filter(col("doc_id") % 40 =!= 7),
        docs.filter(col("doc_id") % 40 === 7),
        "doc_id", "text")
    }),

    // PII scrubbing — deterministic PII spans (email / dotted-quad IP /
    // 555-phone, derived from doc_id so the fixture needs no external
    // data) injected then redacted by TextOps.piiRedact; per-doc counts
    // + md5 of the redacted text. Scan-only codegen'd regexes, zero
    // shuffles; fully DuckDB-oracled (RE2/Java common-subset patterns).
    "q71_pii_scrub" -> ((s, d) => {
      val r = TextOps.piiRedact(piiInjected)
      t(s, d, "documents")
        .select(col("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r.n_email").as("n_email"),
          col("r.n_ip").as("n_ip"),
          col("r.n_phone").as("n_phone"),
          length(col("r.clean")).cast("long").as("clean_len"),
          md5(col("r.clean")).as("clean_md5"))
    }),

    // domain mixing weights — sqrt-smoothed token-mass weights per
    // source (UniMax/GPT-3-style small-domain upweighting), ppm-of-max
    // integerisation so the float path is two correctly-rounded ops on
    // exact integers (no cross-engine float-sum order hazard)
    "q72_domain_mix" -> ((s, d) =>
      TextOps.domainMixWeights(t(s, d, "documents"), "source", "text",
        100000L)),

    // SemDeDup semantic dedup — integer-exact k-means (md5-seeded, two
    // Lloyd steps, 2^20-quantized L2) over the q63 dup-planted embedding
    // table, then within-cluster cosine edges at τ=0.99 → CC collapse
    // with min-id survivors. The clusters localise the pair search; the
    // planted copy must land with its original and collapse onto it.
    "q73_semantic_dedup" -> ((s, d) => {
      val base = t(s, d, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val planted = t(s, d, "embeddings")
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
          expr("transform(embedding, (x, i) -> CAST(x AS DOUBLE) + " +
            "((vec_id * 31 + i) % 7 - 3) * 0.002)").as("v"))
      Dedup.semanticDedup(base.unionByName(planted), "vec_id", "v")
    }),

    // overlapping duplicate-span detection — stride-1 10-token windows
    // (q66's non-overlapping passages miss copies offset by a
    // non-multiple of w); per-doc span counts + corpus doc-frequency of
    // the hottest span. One explode + hash-keyed count; DuckDB-oracled.
    "q75_dup_spans" -> ((s, d) =>
      Dedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text")),

    // SimHash per document (md5-derived 63-bit; DuckDB-oracled)
    "q33_simhash" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Dedup.tokenHashes63(col("text")).as("hs"))
        .select(col("doc_id"), Dedup.simhashFromHashes(col("hs")).as("simhash"))))

  /** q32 oracle: the full MinHash+LSH pipeline in DuckDB SQL — shingles,
    * 64 affine min-hashes (parameters inlined from [[Dedup.hashParams]]),
    * md5 band keys, capped buckets, candidate pairs.
    */
  private def minhashLshOracle: String = {
    val (numHashes, bands, maxBucket, w) = (64, 16, 1000, 3)
    val r = numHashes / bands
    val p = Dedup.MersennePrime
    val sigExprs = Dedup.hashParams(numHashes).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $p))"
    }.mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val joined = s"array_to_string(list_transform(" +
        s"list_slice(sig, ${b * r + 1}, ${b * r + r}), x -> CAST(x AS VARCHAR)), ',')"
      s"""SELECT doc_id, $b AS band,
         |  ${Dedup.md5h63Sql(joined)} AS key
         |FROM sig""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT doc_id, $duckTokens AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) >= $w
       |      THEN list_transform(range(len(tk) - ${w - 1}),
       |             i -> array_to_string(list_slice(tk, i + 1, i + $w), ' '))
       |      ELSE [array_to_string(tk, ' ')] END AS sg
       |  FROM toks),
       |hsh AS (
       |  SELECT doc_id, list_transform(sg, s -> ${Dedup.md5h32Sql("s")}) AS hs
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, [
       |    $sigExprs
       |  ] AS sig FROM hsh),
       |bandkeys AS (
       |$bandSelects),
       |kept AS (
       |  SELECT band, key FROM bandkeys GROUP BY band, key
       |  HAVING COUNT(*) BETWEEN 2 AND $maxBucket)
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS n_shared_bands
       |FROM bandkeys x
       |JOIN kept k ON k.band = x.band AND k.key = x.key
       |JOIN bandkeys y ON y.band = x.band AND y.key = x.key AND x.doc_id < y.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  /** q33 oracle: 63-bit SimHash in DuckDB SQL (bit votes over md5h63
    * token hashes; empty token lists hash to 0 — list_sum([]) IS NULL,
    * which the CASE maps to the same 0 the Spark fold produces).
    */
  /** q59 oracle: the q32 candidate SQL as a CTE, then the exact
    * 3-shingle Jaccard per pair — distinct md5h32 shingle-hash sets on
    * each side, |A∩B| / (|A|+|B|−|A∩B|), e6-floored like the engine.
    */
  /** The distinct shingle-hash sets and the MinHash-LSH candidate pairs
    * the whole near-dup family shares (q32 emits the candidates, q59
    * Jaccard-verifies them, q96 computes containment, q90 edit-verifies;
    * q64/q65/q95 consume q59's memo). Both memoised: hashing + the
    * 64-perm banding ran up to four times per rep before. Signatures on
    * the DISTINCT set equal signatures on the raw multiset (a per-hash
    * min is duplicate-insensitive), so q32's output is unchanged.
    */
  private def shingleSetsMemo(s: SparkSession, d: String): DataFrame =
    memoize(s"shinglesets:$d") {
      t(s, d, "documents").select(col("doc_id").as("id"),
        Dedup.distinctShingleHashes(col("text")).as("hs"))
    }

  private def minhashCandMemo(s: SparkSession, d: String): DataFrame =
    memoize(s"minhashcand:$d") {
      Dedup.minhashCandidatesFromHashes(shingleSetsMemo(s, d))
    }

  /** q59 body, shared with q64: exact n-gram Jaccard over the MinHash-LSH
    * candidate pairs. The candidate set is the small side (bucket-capped
    * banding), so it broadcasts against the big documents table twice and
    * the full table never shuffles; if candidates ever outgrow the
    * broadcast limit, drop the hints and AQE picks a shuffle join.
    */
  private def jaccardVerifiedPairs(s: SparkSession, d: String): DataFrame =
    memoize(s"jaccardverified:$d") {
      // the distinct shingle-hash set is staged ONCE per doc and feeds
      // both the banding and the exact verify (signatures are identical
      // on the distinct set); re-hashing text per candidate pair was 48 s
      // of a 140 s 500k-doc pipeline (BENCH.md round 4); memoised (like
      // saMemo) because q59 AND q95 both run the full pipeline
      val sets = shingleSetsMemo(s, d)
      val cand = minhashCandMemo(s, d)
      val withA = sets
        .select(col("id").as("id_a"), col("hs").as("hs_a"))
        .join(broadcast(cand), Seq("id_a"))
      sets.select(col("id").as("id_b"), col("hs").as("hs_b"))
        .join(broadcast(withA), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          floor(Dedup.jaccardByHashSets(col("hs_a"), col("hs_b")) *
            lit(1000000.0) + lit(0.5)).cast("long").as("j_e6"))
        .withColumn("is_dup",
          when(col("j_e6") >= 500000L, 1L).otherwise(0L))
    }

  /** q96 body: Broder containment over the same staged shingle-hash
    * sets and the same broadcast candidate frame as q59 —
    * c(A,B) = |A∩B| / |A| (and symmetrically / |B|), e6-floored with
    * integer DIV so DuckDB replays it bit-for-bit. `is_contained`
    * flags pairs where either side is ≥90 % inside the other; the
    * shingle fallback for short texts guarantees |hs| ≥ 1 (no zero
    * divisor).
    */
  private def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val sets = shingleSetsMemo(s, d)
    val cand = minhashCandMemo(s, d)
    val withA = sets
      .select(col("id").as("id_a"), col("hs").as("hs_a"))
      .join(broadcast(cand), Seq("id_a"))
    sets.select(col("id").as("id_b"), col("hs").as("hs_b"))
      .join(broadcast(withA), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
          .as("inter"),
        size(col("hs_a")).cast("long").as("na"),
        size(col("hs_b")).cast("long").as("nb"))
      .select(col("id_a"), col("id_b"),
        expr("inter * 1000000L DIV na").as("c_a_e6"),
        expr("inter * 1000000L DIV nb").as("c_b_e6"))
      .withColumn("is_contained",
        when(greatest(col("c_a_e6"), col("c_b_e6")) >= 900000L, 1L)
          .otherwise(0L))
  }

  /** q97 oracle: winnowing (SWA rightmost-argmin-per-window) replayed
    * with nested DuckDB list lambdas over the same ordered w-gram
    * md5h32 hashes the engine's native expression computes; also the
    * CTE base of q98's cross-doc match oracle.
    */
  private def winnowingOracle: String = {
    val (w, win) = (3, 4)
    s"""WITH wtoks AS (
       |  SELECT doc_id, $duckTokens AS tk FROM documents),
       |wsh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) >= $w
       |      THEN list_transform(range(len(tk) - ${w - 1}),
       |             i -> array_to_string(list_slice(tk, i + 1, i + $w), ' '))
       |      ELSE [array_to_string(tk, ' ')] END AS sg
       |  FROM wtoks),
       |whs AS (
       |  SELECT doc_id,
       |    list_transform(sg, s -> ${Dedup.md5h32Sql("s")}) AS hs
       |  FROM wsh),
       |wwin AS (
       |  SELECT doc_id, hs,
       |    CASE WHEN len(hs) <= $win THEN 1
       |         ELSE len(hs) - ${win - 1} END AS m
       |  FROM whs),
       |wsel AS (
       |  SELECT doc_id, hs,
       |    list_distinct(list_transform(range(m), j ->
       |      list_reduce(
       |        list_prepend(j, range(j, least(j + $win, len(hs)))),
       |        (acc, i) -> CASE WHEN hs[i + 1] <= hs[acc + 1]
       |                    THEN i ELSE acc END))) AS ps
       |  FROM wwin)
       |SELECT doc_id, CAST(p AS BIGINT) AS pos, hs[p + 1] AS fp
       |FROM (SELECT doc_id, hs, unnest(ps) AS p FROM wsel)""".stripMargin
  }

  /** q96 oracle: the q59 CTE chain (candidates + distinct md5h32
    * shingle-hash sets), then integer-DIV containment both ways. */
  private def containmentOracle: String = {
    val w = 3
    s"""WITH cand AS (
       |$minhashLshOracle
       |),
       |jtoks AS (
       |  SELECT doc_id, $duckTokens AS tk FROM documents),
       |jsh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) >= $w
       |      THEN list_transform(range(len(tk) - ${w - 1}),
       |             i -> array_to_string(list_slice(tk, i + 1, i + $w), ' '))
       |      ELSE [array_to_string(tk, ' ')] END AS sg
       |  FROM jtoks),
       |jhs AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(sg, s -> ${Dedup.md5h32Sql("s")})) AS hs
       |  FROM jsh),
       |cc AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
       |    CAST(len(a.hs) AS BIGINT) AS na,
       |    CAST(len(b.hs) AS BIGINT) AS nb
       |  FROM cand c
       |  JOIN jhs a ON a.doc_id = c.id_a
       |  JOIN jhs b ON b.doc_id = c.id_b)
       |SELECT id_a, id_b,
       |  inter * 1000000 // na AS c_a_e6,
       |  inter * 1000000 // nb AS c_b_e6,
       |  CAST(CASE WHEN GREATEST(inter * 1000000 // na,
       |                          inter * 1000000 // nb) >= 900000
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_contained
       |FROM cc""".stripMargin
  }

  private def jaccardVerifyOracle: String = {
    val w = 3
    s"""WITH cand AS (
       |$minhashLshOracle
       |),
       |jtoks AS (
       |  SELECT doc_id, $duckTokens AS tk FROM documents),
       |jsh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) >= $w
       |      THEN list_transform(range(len(tk) - ${w - 1}),
       |             i -> array_to_string(list_slice(tk, i + 1, i + $w), ' '))
       |      ELSE [array_to_string(tk, ' ')] END AS sg
       |  FROM jtoks),
       |jhs AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(sg, s -> ${Dedup.md5h32Sql("s")})) AS hs
       |  FROM jsh),
       |jj AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
       |      (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) AS jac
       |  FROM cand c
       |  JOIN jhs a ON a.doc_id = c.id_a
       |  JOIN jhs b ON b.doc_id = c.id_b)
       |SELECT id_a, id_b,
       |  CAST(FLOOR(jac * 1000000 + 0.5) AS BIGINT) AS j_e6,
       |  CAST(CASE WHEN FLOOR(jac * 1000000 + 0.5) >= 500000
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM jj""".stripMargin
  }

  /** q73 oracle: the whole SemDeDup pipeline replayed in SQL — q63's
    * dup-planted derivation, 2^20-quantized (+offset) vectors, md5-seeded
    * k-means with TWO unrolled Lloyd steps in exact integer arithmetic
    * (`//` == truncating == floor on the nonneg offsets; empty clusters
    * COALESCE to their previous centroid; argmin ties → lowest j), the
    * within-cluster e6-floored cosine pairs, and the q64 recursive-CTE
    * min-label CC collapse with singleton survivors.
    */
  private def semanticDedupOracle: String = {
    val (k, tauE6, maxCluster) = (8, 990000L, 100000L)
    def distCte(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT t.id, t.qv, t.v, c.j,
         |    list_sum(list_transform(range(len(t.qv)),
         |      i -> (t.qv[i+1] - c.cv[i+1]) * (t.qv[i+1] - c.cv[i+1])))
         |      AS dist
         |  FROM q t, $cents c)""".stripMargin
    def assignCte(name: String, dists: String): String =
      s"""$name AS (
         |  SELECT id, qv, v, j AS cluster FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY id ORDER BY dist ASC, j ASC) AS rn FROM $dists)
         |  WHERE rn = 1)""".stripMargin
    def updateCte(uName: String, cName: String, assigned: String,
                  prevCents: String): String =
      s"""$uName AS (
         |  SELECT cluster AS j, u.i AS pos,
         |    SUM(qv[u.i + 1]) AS sm, COUNT(*) AS n
         |  FROM $assigned, LATERAL unnest(range(len(qv))) u(i)
         |  GROUP BY 1, 2),
         |$cName AS (
         |  SELECT p.j, COALESCE(nc.cv, p.cv) AS cv
         |  FROM $prevCents p LEFT JOIN (
         |    SELECT j, list(sm // n ORDER BY pos) AS cv FROM $uName
         |    GROUP BY j) nc USING (j))""".stripMargin
    s"""WITH RECURSIVE base AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |ve AS (
       |  SELECT id, v FROM base
       |  UNION ALL
       |  SELECT id + 1000000000, list_transform(v,
       |    (x, i) -> x + ((id * 31 + (i - 1)) % 7 - 3) * 0.002)
       |  FROM base),
       |q AS (
       |  SELECT id, v, list_transform(v,
       |    x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 1048576) AS qv
       |  FROM ve),
       |seeds AS (
       |  SELECT j, qv AS cv FROM (
       |    SELECT ROW_NUMBER() OVER (
       |      ORDER BY ${Dedup.md5h32Sql("CAST(id AS VARCHAR)")}, id) - 1
       |      AS j, qv
       |    FROM q) WHERE j < $k),
       |${distCte("d0", "seeds")},
       |${assignCte("a0", "d0")},
       |${updateCte("u1", "c1", "a0", "seeds")},
       |${distCte("d1", "c1")},
       |${assignCte("a1", "d1")},
       |${updateCte("u2", "c2", "a1", "c1")},
       |${distCte("d2", "c2")},
       |${assignCte("a2", "d2")},
       |sz AS (SELECT cluster, COUNT(*) AS c FROM a2 GROUP BY 1),
       |pr AS (
       |  SELECT a.cluster, a.id, a.v FROM a2 a
       |  JOIN sz ON sz.cluster = a.cluster WHERE sz.c <= $maxCluster),
       |pairs AS (
       |  SELECT x.id AS id_a, y.id AS id_b
       |  FROM pr x JOIN pr y ON y.cluster = x.cluster AND x.id < y.id
       |  WHERE CAST(FLOOR(list_cosine_similarity(x.v, y.v) * 1000000 + 0.5)
       |    AS BIGINT) >= $tauE6),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |r AS (
       |  SELECT src AS nid, src AS label FROM sym
       |  UNION
       |  SELECT s2.dst AS nid, r.label FROM r JOIN sym s2 ON s2.src = r.nid
       |  WHERE r.label < s2.dst),
       |cc AS (SELECT nid, MIN(label) AS comp FROM r GROUP BY nid),
       |asg AS (
       |  SELECT a.id, a.cluster, COALESCE(cc.comp, a.id) AS survivor
       |  FROM a2 a LEFT JOIN cc ON cc.nid = a.id),
       |csz AS (SELECT survivor, COUNT(*) AS comp_size FROM asg GROUP BY 1)
       |SELECT g.id AS vec_id, g.cluster, g.survivor,
       |  CAST(z.comp_size AS BIGINT) AS comp_size,
       |  CAST(CASE WHEN g.id = g.survivor THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_survivor
       |FROM asg g JOIN csz z ON z.survivor = g.survivor""".stripMargin
  }

  /** q64 oracle: q59's full verify pipeline as a CTE, then recursive
    * min-label connected components over the `is_dup` pairs (the q13
    * CTE pattern), survivor = component min id, singletons from a left
    * join against the full documents table.
    */
  private def dedupCollapseOracle: String =
    s"""WITH RECURSIVE jv AS (
       |$jaccardVerifyOracle
       |),
       |dup AS (SELECT id_a, id_b FROM jv WHERE is_dup = 1),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM dup
       |        UNION SELECT id_b, id_a FROM dup),
       |r AS (
       |  SELECT src AS nid, src AS label FROM sym
       |  UNION
       |  SELECT s.dst AS nid, r.label FROM r JOIN sym s ON s.src = r.nid
       |  WHERE r.label < s.dst
       |),
       |cc AS (SELECT nid, MIN(label) AS comp FROM r GROUP BY nid),
       |asg AS (
       |  SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS survivor
       |  FROM documents d LEFT JOIN cc ON cc.nid = d.doc_id),
       |sz AS (SELECT survivor, COUNT(*) AS cluster_size
       |       FROM asg GROUP BY survivor)
       |SELECT a.doc_id, a.survivor, z.cluster_size,
       |  CAST(CASE WHEN a.doc_id = a.survivor THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_survivor
       |FROM asg a JOIN sz z ON z.survivor = a.survivor""".stripMargin

  /** q65 oracle: the whole curation pipeline in SQL — q28/q29's scoring
    * expressions, the exact-dedup keeper set, q59's verified pairs
    * restricted to keepers, the recursive CC collapse, then per-language
    * stats over the survivors (SUM cast to BIGINT — DuckDB sums to
    * HUGEINT otherwise and the schema gate fails).
    */
  private def curationOracle: String = {
    def hitsExpr(l: String): String = {
      val ms = TextOps.markers(l).map(m => s"x = '$m'").mkString(" OR ")
      s"CAST(len(list_filter($duckTokens, x -> $ms)) AS BIGINT)"
    }
    s"""WITH RECURSIVE jv AS (
       |$jaccardVerifyOracle
       |),
       |scored AS (
       |  SELECT doc_id, text,
       |    CAST(len($duckTokens) AS BIGINT) AS n_tokens,
       |    CASE WHEN length(text) < 100 THEN 1 ELSE 0 END AS is_short,
       |    ${markerCaseSql(hitsExpr)} AS guess
       |  FROM documents),
       |kept AS (SELECT * FROM scored WHERE is_short = 0 AND guess <> 'und'),
       |ex AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
       |dup AS (
       |  SELECT id_a, id_b FROM jv
       |  WHERE is_dup = 1
       |    AND id_a IN (SELECT doc_id FROM ex)
       |    AND id_b IN (SELECT doc_id FROM ex)),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM dup
       |        UNION SELECT id_b, id_a FROM dup),
       |r AS (
       |  SELECT src AS nid, src AS label FROM sym
       |  UNION
       |  SELECT s.dst AS nid, r.label FROM r JOIN sym s ON s.src = r.nid
       |  WHERE r.label < s.dst
       |),
       |cc AS (SELECT nid, MIN(label) AS comp FROM r GROUP BY nid),
       |surv AS (
       |  SELECT e.doc_id FROM ex e LEFT JOIN cc ON cc.nid = e.doc_id
       |  WHERE e.doc_id = COALESCE(cc.comp, e.doc_id))
       |SELECT s.guess AS lang,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN s.is_short = 0 AND s.guess <> 'und'
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_surv,
       |  CAST(SUM(CASE WHEN v.doc_id IS NOT NULL THEN s.n_tokens ELSE 0 END)
       |    AS BIGINT) AS surv_tokens
       |FROM scored s
       |LEFT JOIN ex e ON e.doc_id = s.doc_id
       |LEFT JOIN surv v ON v.doc_id = s.doc_id
       |GROUP BY s.guess""".stripMargin
  }

  /** q61 oracle: q33's simhash SQL as a CTE, then the banding self-join
    * with the same 2..maxBucket bucket cap and the exact Hamming verify.
    */
  private def simhashPairsOracle: String = {
    val (maxHam, bands, maxBucket) = (3, 4, 1000)
    s"""WITH sims AS (
       |$simhashOracle
       |),
       |bk AS (
       |  SELECT doc_id, simhash, t.band,
       |    (simhash >> (t.band * 16)) & 65535 AS key
       |  FROM sims, (SELECT CAST(range AS INTEGER) AS band
       |              FROM range($bands)) t),
       |kept AS (
       |  SELECT band, key FROM bk GROUP BY band, key
       |  HAVING COUNT(*) BETWEEN 2 AND $maxBucket),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       |    x.simhash AS sa, y.simhash AS sb
       |  FROM bk x
       |  JOIN kept k ON k.band = x.band AND k.key = x.key
       |  JOIN bk y ON y.band = x.band AND y.key = x.key
       |    AND x.doc_id < y.doc_id)
       |SELECT id_a, id_b,
       |  CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= $maxHam""".stripMargin
  }

  private def simhashOracle: String = {
    val bitTerms = (0 until Dedup.SimhashBits).map { i =>
      s"""CASE WHEN list_sum(list_transform(hs,
         |  h -> CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |  THEN CAST(${1L << i} AS BIGINT) ELSE 0 END""".stripMargin
    }.mkString(" +\n  ")
    s"""WITH th AS (
       |  SELECT doc_id,
       |    list_transform($duckTokens, t -> ${Dedup.md5h63Sql("t")}) AS hs
       |  FROM documents)
       |SELECT doc_id, CAST($bitTerms AS BIGINT) AS simhash FROM th""".stripMargin
  }

  /** q50 oracle: the sign-LSH ANN pipeline in DuckDB — hyperplane signs
    * from the same integer-arithmetic pseudo-random components, bucket
    * multi-probe (Hamming-1), bucket-size cap, cosine, per-query top-3.
    * DuckDB list lambdas index 1-based, hence (i - 1).
    */
  private def annTopKOracle: String = {
    val (bits, maxBucket, k) = (8, 100000L, 3)
    val bitTerms = (0 until bits).map { j =>
      s"""CASE WHEN list_sum(list_transform(v,
         |  (x, i) -> x * ${Dedup.hyperplaneComponentSql(j.toString, "i - 1")}))
         |  > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" +\n  ")
    val probeList = ("bucket" +: (0 until bits).map(j => s"xor(bucket, ${1L << j})"))
      .mkString("[", ", ", "]")
    s"""WITH ve AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bk AS (SELECT id, v, ($bitTerms) AS bucket FROM ve),
       |sizes AS (SELECT bucket, COUNT(*) AS c FROM bk GROUP BY bucket),
       |refs AS (
       |  SELECT bk.bucket, bk.id AS nid, bk.v AS nv
       |  FROM bk JOIN sizes s ON s.bucket = bk.bucket WHERE s.c <= $maxBucket),
       |probes AS (
       |  SELECT id AS qid, v AS qv, unnest($probeList) AS bucket FROM bk),
       |scored AS (
       |  SELECT p.qid, r.nid,
       |    list_cosine_similarity(p.qv, r.nv) AS sim
       |  FROM probes p JOIN refs r ON r.bucket = p.bucket
       |  WHERE p.qid <> r.nid)
       |SELECT qid, rank, nid, CAST(FLOOR(sim * 1000000 + 0.5) AS BIGINT) AS sim_e6
       |FROM (
       |  SELECT qid, nid, sim,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, nid ASC) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin
  }

  /** q63 oracle: the dup-planting derivation (original id in the noise
    * term, DuckDB lambdas index 1-based hence `i - 1`), then the exact
    * q50 LSH machinery — buckets, Hamming-1 probes, bucket cap — with
    * the `id_a < id_b` pair filter and the e6 cosine threshold.
    */
  private def embedNearDupOracle: String = {
    val (bits, maxBucket, tauE6) = (8, 100000L, 990000L)
    val bitTerms = (0 until bits).map { j =>
      s"""CASE WHEN list_sum(list_transform(v,
         |  (x, i) -> x * ${Dedup.hyperplaneComponentSql(j.toString, "i - 1")}))
         |  > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" +\n  ")
    val probeList = ("bucket" +: (0 until bits).map(j => s"xor(bucket, ${1L << j})"))
      .mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ve AS (
       |  SELECT id, v FROM base
       |  UNION ALL
       |  SELECT id + 1000000000, list_transform(v,
       |    (x, i) -> x + ((id * 31 + (i - 1)) % 7 - 3) * 0.002)
       |  FROM base),
       |bk AS (SELECT id, v, ($bitTerms) AS bucket FROM ve),
       |sizes AS (SELECT bucket, COUNT(*) AS c FROM bk GROUP BY bucket),
       |refs AS (
       |  SELECT bk.bucket, bk.id AS id_b, bk.v AS nv
       |  FROM bk JOIN sizes s ON s.bucket = bk.bucket WHERE s.c <= $maxBucket),
       |probes AS (
       |  SELECT id AS id_a, v AS qv, unnest($probeList) AS bucket FROM bk)
       |SELECT id_a, id_b, sim_e6 FROM (
       |  SELECT p.id_a, r.id_b,
       |    CAST(FLOOR(list_cosine_similarity(p.qv, r.nv) * 1000000 + 0.5)
       |      AS BIGINT) AS sim_e6
       |  FROM probes p JOIN refs r ON r.bucket = p.bucket
       |  WHERE p.id_a < r.id_b)
       |WHERE sim_e6 >= $tauE6""".stripMargin
  }

  /** q56 oracle: the IVF pipeline in DuckDB — lowest-id seeds, max-cosine
    * assignment (ties → lowest list id), ONE Lloyd step over 2^20-quantized
    * components (integer sums — order-independent, so the centroid doubles
    * are bit-identical to Spark's), reassignment, nprobe probing, exact
    * cosine top-k. DuckDB list lambdas index 1-based — harmless here: `i`
    * is only a grouping/ordering key within one engine.
    */
  private def ivfTopKOracle: String = {
    val (nlist, nprobe, k) = (16, 2, 3)
    s"""WITH ve AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS c, v AS sv
       |  FROM ve ORDER BY id LIMIT $nlist),
       |a1 AS (
       |  SELECT id, v, c FROM (
       |    SELECT ve.id AS id, ve.v AS v, s.c AS c,
       |      ROW_NUMBER() OVER (PARTITION BY ve.id
       |        ORDER BY list_cosine_similarity(ve.v, s.sv) DESC, s.c ASC) AS rn
       |    FROM ve CROSS JOIN seeds s) WHERE rn = 1),
       |comps AS (
       |  SELECT c, u.i AS i, CAST(SUM(u.q) AS BIGINT) AS s, COUNT(*) AS n
       |  FROM a1, unnest(list_transform(v, (x, i) ->
       |    {'i': i, 'q': CAST(FLOOR(x * 1048576 + 0.5) AS BIGINT)})) AS t(u)
       |  GROUP BY c, u.i),
       |cent AS (
       |  SELECT c, list(s / (n * 1048576.0) ORDER BY i) AS cv
       |  FROM comps GROUP BY c),
       |a2 AS (
       |  SELECT id AS nid, v AS nv, c FROM (
       |    SELECT ve.id AS id, ve.v AS v, cent.c AS c,
       |      ROW_NUMBER() OVER (PARTITION BY ve.id
       |        ORDER BY list_cosine_similarity(ve.v, cent.cv) DESC, cent.c ASC) AS rn
       |    FROM ve CROSS JOIN cent) WHERE rn = 1),
       |probes AS (
       |  SELECT id AS qid, v AS qv, c FROM (
       |    SELECT ve.id AS id, ve.v AS v, cent.c AS c,
       |      ROW_NUMBER() OVER (PARTITION BY ve.id
       |        ORDER BY list_cosine_similarity(ve.v, cent.cv) DESC, cent.c ASC) AS rn
       |    FROM ve CROSS JOIN cent) WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT p.qid, m.nid, list_cosine_similarity(p.qv, m.nv) AS sim
       |  FROM probes p JOIN a2 m ON m.c = p.c WHERE m.nid <> p.qid)
       |SELECT qid, rank, nid, CAST(FLOOR(sim * 1000000 + 0.5) AS BIGINT) AS sim_e6
       |FROM (
       |  SELECT qid, nid, sim,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, nid ASC) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin
  }

  /** q111 oracle: the ENTIRE PQ pipeline replayed in SQL — quantize,
    * seed codebooks (lowest ksub ids), `iters` unrolled Lloyd rounds
    * (integer-L2 argmin with ties → lowest code, integer-mean update,
    * empty classes keep their centroid), final encode, per-query LUTs,
    * ADC distances, top-k. Pure integers after the ×2²⁰ quantization
    * (whose double arithmetic is exact: ×2²⁰ and +0.5 are lossless at
    * these magnitudes), so every intermediate matches bit-for-bit.
    */
  private def pqTopKOracle: String = {
    val (m, ksub, d, iters, k, qmod) = (8, 16, 8, 2, 3, 20)
    def assignSql(name: String, centTab: String): String =
      s"""a_$name AS (
         |  SELECT v.id, ce.b, ce.c,
         |    SUM((v.qv[ce.b*$d+ce.pos]-ce.m)*(v.qv[ce.b*$d+ce.pos]-ce.m))
         |      AS d2
         |  FROM qv v, $centTab ce GROUP BY 1, 2, 3),
         |asg_$name AS (
         |  SELECT id, b, c FROM a_$name
         |  QUALIFY row_number() OVER (PARTITION BY id, b ORDER BY d2, c) = 1)"""
        .stripMargin
    val rounds = (1 to iters).map { r =>
      s"""${assignSql(r.toString, s"cent${r - 1}")},
         |sums$r AS (
         |  SELECT a.b, a.c, i.i AS pos, SUM(v.qv[a.b*$d+i.i]) AS s,
         |    COUNT(*) AS n
         |  FROM asg_$r a JOIN qv v USING (id),
         |    LATERAL unnest(generate_series(1, $d)) i(i)
         |  GROUP BY 1, 2, 3),
         |cent$r AS (
         |  SELECT c0.b, c0.c, c0.pos, COALESCE(s.s // s.n, c0.m) AS m
         |  FROM cent${r - 1} c0 LEFT JOIN sums$r s
         |    ON s.b = c0.b AND s.c = c0.c AND s.pos = c0.pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH qv AS (
       |  SELECT vec_id AS id, list_transform(embedding, x ->
       |    CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)
       |      + 1048576) AS qv
       |  FROM embeddings),
       |seeds AS (
       |  SELECT qv, row_number() OVER (ORDER BY id) - 1 AS c
       |  FROM (SELECT id, qv FROM qv ORDER BY id LIMIT $ksub)),
       |cent0 AS (
       |  SELECT b.b, s.c, i.i AS pos, s.qv[b.b*$d + i.i] AS m
       |  FROM seeds s,
       |    LATERAL unnest(generate_series(0, ${m - 1})) b(b),
       |    LATERAL unnest(generate_series(1, $d)) i(i)),
       |$rounds,
       |${assignSql("fin", s"cent$iters")},
       |lut AS (
       |  SELECT q.id AS qid, ce.b, ce.c,
       |    SUM((q.qv[ce.b*$d+ce.pos]-ce.m)*(q.qv[ce.b*$d+ce.pos]-ce.m))
       |      AS d2
       |  FROM (SELECT * FROM qv WHERE id % $qmod = 0) q, cent$iters ce
       |  GROUP BY 1, 2, 3),
       |ad AS (
       |  SELECT l.qid, co.id AS nid, SUM(l.d2) AS adist
       |  FROM asg_fin co JOIN lut l ON l.b = co.b AND l.c = co.c
       |  WHERE co.id <> l.qid GROUP BY 1, 2)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, nid,
       |  CAST(adist AS BIGINT) AS adist
       |FROM (SELECT qid, nid, adist,
       |        row_number() OVER (PARTITION BY qid ORDER BY adist, nid)
       |          AS rank
       |      FROM ad)
       |WHERE rank <= $k""".stripMargin
  }

  /** q112 oracle: the BPE training loop unrolled — per round, pair
    * counts from list windows, argmax via ORDER BY n DESC, t1, t2
    * LIMIT 1, and the greedy left-to-right merge replayed as a
    * list_reduce fold over singleton-wrapped tokens (the prepend-init
    * trick; acc[-1] = the fold's last-emitted token). An exhausted
    * round (no pairs left) emits no row in either engine.
    */
  /** The shared BPE replay CTE chain (t0 … t`rounds`): per round, pair
    * counts from list windows, argmax via ORDER BY n DESC, t1, t2
    * LIMIT 1, and the greedy left-to-right merge replayed as a
    * list_reduce fold over singleton-wrapped tokens (the prepend-init
    * trick; acc[-1] = the fold's last-emitted token). The rewrite LEFT
    * JOINs the (≤1-row) argmax so an exhausted round carries the state
    * forward unchanged — matching the engine loop, which stops merging
    * but keeps the last vocabulary.
    */
  private def bpeRoundsCte(rounds: Int): String = {
    def round(r: Int): String = {
      val prev = s"t${r - 1}"
      s"""p$r AS (
         |  SELECT t.toks[i.i] AS t1, t.toks[i.i + 1] AS t2,
         |    SUM(t.cnt) AS n
         |  FROM $prev t,
         |    LATERAL unnest(generate_series(1, len(t.toks) - 1)) i(i)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT t1, t2, n FROM p$r ORDER BY n DESC, t1, t2 LIMIT 1),
         |t$r AS (
         |  SELECT t.word, t.cnt,
         |    CASE WHEN b.t1 IS NULL THEN t.toks ELSE
         |    list_reduce(
         |      list_prepend(CAST([] AS VARCHAR[]),
         |        list_transform(t.toks, x -> [x])),
         |      (acc, x) -> CASE
         |        WHEN len(acc) > 0 AND acc[-1] = b.t1 AND x[1] = b.t2
         |        THEN list_append(list_slice(acc, 1, len(acc) - 1),
         |               b.t1 || b.t2)
         |        ELSE list_append(acc, x[1]) END) END AS toks
         |  FROM $prev t LEFT JOIN b$r b ON TRUE)""".stripMargin
    }
    s"""WITH w AS (SELECT unnest($duckTokens) AS word FROM documents),
       |wc AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1),
       |t0 AS (SELECT word, cnt, regexp_extract_all(word, '(?s).') AS toks
       |       FROM wc),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  private def bpeTrainOracle: String = {
    val rounds = 3
    val emits = (1 to rounds).map { r =>
      s"""SELECT $r AS merge_rank, b.t1 AS lt, b.t2 AS rt,
         |  CAST(b.n AS BIGINT) AS n_occ,
         |  (SELECT CAST(SUM(len(toks)) AS BIGINT) FROM t$r) AS vocab_tokens,
         |  (SELECT CAST(SUM(cnt * len(toks)) AS BIGINT) FROM t$r)
         |    AS corpus_tokens
         |FROM b$r b""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${bpeRoundsCte(rounds)}
       |$emits""".stripMargin
  }

  /** q115 oracle: replay training to t3, then read the corpus token
    * histogram off the final vocabulary tokenization — per (word, tok)
    * multiplicity first, then token totals, exactly the engine's
    * two-level aggregation.
    */
  private def bpeEncodeOracle: String =
    s"""${bpeRoundsCte(3)}
       |SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(k * cnt) AS BIGINT) AS n_occ
       |FROM (
       |  SELECT t.word, t.cnt, u.tok, COUNT(*) AS k
       |  FROM t3 t, LATERAL unnest(t.toks) u(tok)
       |  GROUP BY 1, 2, 3) g
       |GROUP BY 1""".stripMargin

  /** q116 oracle: the identical histogram-collapse rank arithmetic —
    * cumulative counts over DISTINCT (source, len) rows, integer-ceil
    * rank targets, min value at-or-past each target.
    */
  private def lenDecilesOracle: String =
    s"""WITH lens AS (
       |  SELECT source, CAST(len($duckTokens) AS BIGINT) AS len
       |  FROM documents),
       |h AS (SELECT source, len, COUNT(*) AS k FROM lens GROUP BY 1, 2),
       |c AS (SELECT source, len,
       |        SUM(k) OVER (PARTITION BY source ORDER BY len) AS cum
       |      FROM h),
       |n AS (SELECT source, SUM(k) AS n FROM h GROUP BY 1),
       |qs AS (SELECT unnest(generate_series(1, 9)) AS q)
       |SELECT c.source, CAST(qs.q AS BIGINT) AS q, MIN(c.len) AS len
       |FROM c JOIN n USING (source) CROSS JOIN qs
       |WHERE c.cum >= (qs.q * n.n + 9) // 10
       |GROUP BY 1, 2""".stripMargin

  /** q113 oracle: the same replace-length arithmetic, phrase list
    * inlined; `position(p IN text)` > 0 is DuckDB's contains.
    */
  private def blocklistOracle: String = {
    val occ = BlocklistTerms.map(p =>
      s"(length(text) - length(replace(text, '$p', ''))) // ${p.length}")
      .mkString(" + ")
    val hits = BlocklistTerms.map(p =>
      s"CASE WHEN position('$p' IN text) > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""SELECT doc_id,
       |  CAST($occ AS BIGINT) AS n_hit_occ,
       |  CAST($hits AS BIGINT) AS n_hit_terms,
       |  CAST(CASE WHEN ($occ) > 0 THEN 1 ELSE 0 END AS BIGINT) AS blocked
       |FROM documents""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q111_pq_topk" -> pqTopKOracle,
    "q112_bpe_train" -> bpeTrainOracle,
    "q113_blocklist" -> blocklistOracle,
    "q115_bpe_encode" -> bpeEncodeOracle,
    "q116_len_deciles" -> lenDecilesOracle,

    // q114: same md5h63 register math as q100's HyperBall oracle
    "q114_hll_distinct" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT source,
         |    unnest(list_distinct($duckTokens)) AS tok
         |  FROM documents),
         |h0 AS (SELECT source, ${Dedup.md5h63Sql("'hd:' || tok")} AS h
         |       FROM toks)
         |SELECT source, h % 64 AS reg,
         |  CAST(MAX(CASE WHEN h // 64 = 0 THEN 60
         |           ELSE 60 - length(bin(h // 64)) END) AS BIGINT) AS rho
         |FROM h0 GROUP BY 1, 2""".stripMargin,

    // q109: the suffix array IS a sort — DuckDB replays it literally
    // (binary collation on both sides; ties broken by (doc_id, pos))
    "q109_suffix_array" ->
      """WITH p AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text))) AS pos,
        |    text
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id, pos,
        |  CAST(row_number() OVER (
        |    ORDER BY substr(text, CAST(pos AS INT), 128), doc_id, pos)
        |    AS BIGINT) AS sa_rank
        |FROM p""".stripMargin,

    // q110: adjacent-pair LCP via lag over the same sort; the LCP is
    // max k with equal k-prefixes (k=0 always matches, so never NULL)
    "q110_substr_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text))) AS pos,
        |    text
        |  FROM documents WHERE length(text) > 0),
        |s AS (SELECT doc_id, pos, substr(text, CAST(pos AS INT), 128) AS suf
        |      FROM p),
        |o AS (SELECT doc_id, suf,
        |    lag(doc_id) OVER (ORDER BY suf, doc_id, pos) AS pd,
        |    lag(suf)    OVER (ORDER BY suf, doc_id, pos) AS ps
        |  FROM s),
        |l AS (SELECT doc_id, pd,
        |    list_max(list_filter(
        |      generate_series(0, least(length(suf), length(ps))),
        |      k -> substr(suf, 1, CAST(k AS INT))
        |         = substr(ps, 1, CAST(k AS INT)))) AS lcp
        |  FROM o WHERE ps IS NOT NULL AND pd <> doc_id),
        |d AS (SELECT * FROM l WHERE lcp >= 20),
        |sides AS (SELECT doc_id, lcp FROM d
        |          UNION ALL SELECT pd AS doc_id, lcp FROM d),
        |agg AS (SELECT doc_id, COUNT(*) AS n, MAX(lcp) AS mx,
        |          SUM(lcp) AS sm
        |        FROM sides GROUP BY 1)
        |SELECT dd.doc_id,
        |  CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_dup_adj,
        |  CAST(COALESCE(agg.mx, 0) AS BIGINT) AS max_dup_len,
        |  CAST(COALESCE(agg.sm, 0) AS BIGINT) AS sum_dup_len
        |FROM documents dd LEFT JOIN agg USING (doc_id)""".stripMargin,

    "q50_ann_topk" -> annTopKOracle,
    "q56_ivf_topk" -> ivfTopKOracle,
    "q63_embed_neardup" -> embedNearDupOracle,
    "q64_dedup_collapse" -> dedupCollapseOracle,
    "q65_curation" -> curationOracle,

    // same pretokenizer pattern; '' escapes the leading quote in SQL
    "q57_bpe_tokens" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text,
        |  '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
        |  AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin,

    // the rolling hash replayed with list_reduce; the fold's initial
    // accumulator is PREPENDED (DuckDB's reduce has no init argument),
    // giving exactly Spark's aggregate(chars, init, step) sequence
    "q58_fingerprint" ->
      s"""WITH th AS (
         |  SELECT doc_id, list_transform($duckTokens, t ->
         |    list_reduce(list_prepend(CAST(7 AS BIGINT),
         |      list_transform(regexp_extract_all(t, '(?s).'),
         |        c -> CAST(ascii(c) AS BIGINT))),
         |      (acc, x) -> (acc * 31 + x) % 1000000007)) AS ths
         |  FROM documents)
         |SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), ths),
         |  (acc, h) -> (acc * 131 + h) % 1000000007) AS fp
         |FROM th""".stripMargin,

    // q102: same tokenization, DuckDB's 1-based substr/range match
    // Spark's sequence/substring literally; overlapping positions count
    "q102_bpe_pairs" ->
      s"""WITH toks AS (
         |  SELECT unnest($duckTokens) AS word FROM documents),
         |wc AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY 1),
         |p AS (
         |  SELECT word, cnt, substr(word, CAST(i.i AS INT), 2) AS pair
         |  FROM wc, LATERAL unnest(range(1, length(word))) i(i)
         |  WHERE length(word) >= 2)
         |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_occ,
         |  CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
         |FROM p GROUP BY 1""".stripMargin,

    // q104: per-token md5h63 bucket weights replayed as a list fold;
    // empty token lists sum to 0 via COALESCE
    "q104_hash_classifier" ->
      s"""SELECT doc_id,
         |  CAST(len($duckTokens) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(list_sum(list_transform($duckTokens,
         |    tk -> (${Dedup.md5h63Sql("tk")} % 4096) % 2001 - 1000)), 0)
         |    AS BIGINT) AS score,
         |  CAST(CASE WHEN COALESCE(list_sum(list_transform($duckTokens,
         |    tk -> (${Dedup.md5h63Sql("tk")} % 4096) % 2001 - 1000)), 0) > 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM documents""".stripMargin,

    // q105: 4 hash rows per token occurrence, same "r:tok" md5h63 keys
    "q105_countmin" ->
      s"""WITH toks AS (
         |  SELECT unnest($duckTokens) AS tok FROM documents),
         |c AS (
         |  SELECT CAST(r.r AS BIGINT) AS row_id,
         |    ${Dedup.md5h63Sql("CAST(r.r AS VARCHAR) || ':' || tok")} % 1024
         |      AS col_id
         |  FROM toks, LATERAL unnest([0, 1, 2, 3]) r(r))
         |SELECT row_id, col_id, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM c GROUP BY 1, 2""".stripMargin,

    // q97: winnowing replayed with nested list lambdas — ordered w-gram
    // md5h32 hashes, rightmost argmin per win-window via list_reduce
    // (`<=` on ascending i = rightmost tie, exactly the engine's scan),
    // distinct selected positions, one row per (pos, fp)
    "q97_winnowing" -> winnowingOracle,

    // q98: q97's rows as a CTE, per-doc distinct fingerprints, bucket
    // cap 2..1000, a<b pair join, HAVING >= minShared
    "q98_winnow_match" ->
      s"""WITH wfp AS (
         |$winnowingOracle
         |),
         |fps AS (SELECT DISTINCT doc_id, fp FROM wfp),
         |bc AS (SELECT fp, count(*) AS c FROM fps GROUP BY fp),
         |ok AS (SELECT fp FROM bc WHERE c BETWEEN 2 AND 1000)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(count(*) AS BIGINT) AS n_shared_fps
         |FROM fps a
         |JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |JOIN ok ON ok.fp = a.fp
         |GROUP BY 1, 2
         |HAVING count(*) >= 2""".stripMargin,
    "q67_repetition" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $duckTokens AS tk FROM documents),
         |base AS (SELECT doc_id, len(tk) AS n_tokens FROM toks),
         |g AS (
         |  SELECT doc_id, 2 AS n,
         |    array_to_string(list_slice(tk, u.i+1, u.i+2), ' ') AS gr
         |  FROM toks, LATERAL unnest(range(
         |    CASE WHEN len(tk) >= 2 THEN len(tk)-1 ELSE 0 END)) u(i)
         |  UNION ALL
         |  SELECT doc_id, 3 AS n,
         |    array_to_string(list_slice(tk, u.i+1, u.i+3), ' ')
         |  FROM toks, LATERAL unnest(range(
         |    CASE WHEN len(tk) >= 3 THEN len(tk)-2 ELSE 0 END)) u(i)),
         |c AS (SELECT doc_id, n, gr, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3),
         |s AS (SELECT doc_id, n, MAX(cnt) AS mx,
         |        SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dups
         |      FROM c GROUP BY 1, 2),
         |p AS (SELECT doc_id,
         |        MAX(CASE WHEN n = 2 THEN mx END) AS mx2,
         |        MAX(CASE WHEN n = 2 THEN dups END) AS dups2,
         |        MAX(CASE WHEN n = 3 THEN mx END) AS mx3,
         |        MAX(CASE WHEN n = 3 THEN dups END) AS dups3
         |      FROM s GROUP BY 1)
         |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(FLOOR(CAST(p.mx2 * 2000000 AS DOUBLE)
         |    / b.n_tokens + 0.5), 0) AS BIGINT) AS top2_e6,
         |  CAST(COALESCE(FLOOR(CAST(p.dups2 * 2000000 AS DOUBLE)
         |    / b.n_tokens + 0.5), 0) AS BIGINT) AS dup2_e6,
         |  CAST(COALESCE(FLOOR(CAST(p.mx3 * 3000000 AS DOUBLE)
         |    / b.n_tokens + 0.5), 0) AS BIGINT) AS top3_e6,
         |  CAST(COALESCE(FLOOR(CAST(p.dups3 * 3000000 AS DOUBLE)
         |    / b.n_tokens + 0.5), 0) AS BIGINT) AS dup3_e6
         |FROM base b LEFT JOIN p ON b.doc_id = p.doc_id""".stripMargin,

    // q68: md5 keep key is bit-identical in both engines (hex of the
    // UTF-8 md5, first 8 digits parsed base-16)
    "q68_quota_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |        AS BIGINT) % 1000000
         |      < $quotaCaseSql""".stripMargin,

    // q69: all-integer scoring (floor division) — no float idf, so the
    // rank and score hash exactly; ties broken by term ascending
    "q69_tfidf_topk" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($duckTokens) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT t.doc_id, t.term, t.tf, d.df,
         |    (t.tf * (n.n_docs + 1) * 1000000) // (d.df + 1) AS score_e6
         |  FROM tf t JOIN dfreq d USING (term), n),
         |r AS (SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY doc_id ORDER BY score_e6 DESC, term ASC) AS rnk
         |      FROM scored)
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, CAST(score_e6 AS BIGINT) AS score_e6,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 3""".stripMargin,

    // q66: the oracle recomputes the first-occurrence keep with a window
    // (fine at oracle scale; the engine side uses the map-combinable
    // groupBy+join shape). SUMs CAST to BIGINT — DuckDB sums to HUGEINT.
    "q66_passage_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $duckTokens AS tk FROM documents),
         |p AS (
         |  SELECT doc_id, u.i AS pos,
         |    array_to_string(list_slice(tk, u.i*10+1, u.i*10+10), ' ') AS pass,
         |    len(list_slice(tk, u.i*10+1, u.i*10+10)) AS ntok
         |  FROM toks,
         |    LATERAL unnest(range(CAST(ceil(len(tk)/10.0) AS BIGINT))) u(i)),
         |w AS (
         |  SELECT doc_id, ntok,
         |    COUNT(*) OVER (PARTITION BY pass) AS freq,
         |    ROW_NUMBER() OVER (PARTITION BY pass ORDER BY doc_id, pos) AS rn
         |  FROM p)
         |SELECT doc_id,
         |  COUNT(*) AS n_pass,
         |  CAST(SUM(CASE WHEN freq > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_pass,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN rn = 1 THEN ntok ELSE 0 END) AS BIGINT)
         |    AS kept_tokens
         |FROM w GROUP BY doc_id""".stripMargin,

    // q75: same distinct-window machinery as q70 at w=10 over the whole
    // corpus; per-doc-distinct hashes make COUNT(*) per hash = doc freq
    "q75_dup_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $duckTokens AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) >= 10
         |      THEN list_transform(range(len(tk) - 9),
         |             i -> array_to_string(list_slice(tk, i + 1, i + 10), ' '))
         |      ELSE [array_to_string(tk, ' ')] END AS sg
         |  FROM toks),
         |e AS (
         |  SELECT doc_id, u.h FROM (
         |    SELECT doc_id,
         |      list_distinct(list_transform(sg, s -> ${Dedup.md5h32Sql("s")}))
         |        AS hs
         |    FROM sh) x, LATERAL unnest(hs) u(h)),
         |m AS (SELECT h, COUNT(*) AS nd FROM e GROUP BY 1)
         |SELECT doc_id,
         |  COUNT(*) AS n_spans,
         |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_spans,
         |  CAST(MAX(nd) AS BIGINT) AS max_span_docs
         |FROM e JOIN m USING (h) GROUP BY doc_id""".stripMargin,

    // q70: the same distinct 13-gram md5h32 hash sets on both sides
    // (proven ≡ the native ShingleHashes pass by the q59 oracle), hit
    // count = distinct shared hashes per candidate doc
    "q70_decontaminate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $duckTokens AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) >= 13
         |      THEN list_transform(range(len(tk) - 12),
         |             i -> array_to_string(list_slice(tk, i + 1, i + 13), ' '))
         |      ELSE [array_to_string(tk, ' ')] END AS sg
         |  FROM toks),
         |hsh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(sg, s -> ${Dedup.md5h32Sql("s")})) AS hs
         |  FROM sh),
         |bh AS (
         |  SELECT DISTINCT u.h FROM hsh, LATERAL unnest(hs) u(h)
         |  WHERE doc_id % 40 = 7),
         |cand AS (
         |  SELECT doc_id, u.h AS h FROM hsh, LATERAL unnest(hs) u(h)
         |  WHERE doc_id % 40 <> 7),
         |hits AS (
         |  SELECT c.doc_id, COUNT(*) AS n FROM cand c JOIN bh USING (h)
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
         |  CAST(CASE WHEN COALESCE(h.n, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % 40 <> 7""".stripMargin,

    // q71: same injection expression, same RE2/Java common-subset
    // patterns, same three-stage count-then-replace order; the md5 of
    // the redacted text pins replacement positions, not just counts
    "q71_pii_scrub" ->
      s"""WITH pii AS (
         |  SELECT doc_id, $piiInjectSql AS s FROM documents),
         |s1 AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(s, '${TextOps.PiiEmail}')) AS BIGINT)
         |      AS n_email,
         |    regexp_replace(s, '${TextOps.PiiEmail}', '<EMAIL>', 'g') AS c1
         |  FROM pii),
         |s2 AS (SELECT doc_id, n_email,
         |    CAST(len(regexp_extract_all(c1, '${TextOps.PiiIp}')) AS BIGINT)
         |      AS n_ip,
         |    regexp_replace(c1, '${TextOps.PiiIp}', '<IP>', 'g') AS c2
         |  FROM s1),
         |s3 AS (SELECT doc_id, n_email, n_ip,
         |    CAST(len(regexp_extract_all(c2, '${TextOps.PiiPhone}')) AS BIGINT)
         |      AS n_phone,
         |    regexp_replace(c2, '${TextOps.PiiPhone}', '<PHONE>', 'g') AS clean
         |  FROM s2)
         |SELECT doc_id, n_email, n_ip, n_phone,
         |  CAST(length(clean) AS BIGINT) AS clean_len,
         |  md5(clean) AS clean_md5
         |FROM s3""".stripMargin,

    // q72: sqrt and / are single correctly-rounded IEEE ops on exact
    // integer inputs — the ppm-of-max form avoids any float SUM whose
    // accumulation order could differ between engines
    "q72_domain_mix" ->
      s"""WITH tok AS (
         |  SELECT source, len($duckTokens) AS ntok FROM documents),
         |agg AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(ntok) AS BIGINT) AS tok_mass
         |  FROM tok GROUP BY 1),
         |mx AS (SELECT MAX(tok_mass) AS m FROM agg),
         |w AS (
         |  SELECT source, n_docs, tok_mass,
         |    CAST(FLOOR(1000000.0 * sqrt(CAST(tok_mass AS DOUBLE))
         |      / sqrt(CAST(m AS DOUBLE)) + 0.5) AS BIGINT) AS weight_ppm
         |  FROM agg, mx)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, tok_mass,
         |  weight_ppm,
         |  CAST(FLOOR((100000 * weight_ppm) / 1000000.0) AS BIGINT) AS alloc
         |FROM w""".stripMargin,

    "q73_semantic_dedup" -> semanticDedupOracle,

    "q24_tag_filter" ->
      s"""WITH w1 AS (SELECT ${wayStage1.mkString(", ")} FROM orders
         |  WHERE $wayFilter)
         |SELECT wid FROM w1
         |WHERE o_orderstatus = 'F'
         |   OR (o_orderpriority = '1-URGENT' AND o_custkey % 3 = 0)""".stripMargin,

    "q25_tag_group" ->
      s"""WITH w1 AS (SELECT ${wayStage1.mkString(", ")} FROM orders
         |  WHERE $wayFilter)
         |SELECT COALESCE(CASE WHEN o_custkey % 3 = 0
         |    THEN concat('N', CAST(o_custkey % 10 AS VARCHAR)) END,
         |    o_orderpriority) AS grp,
         |  COUNT(*) AS n_ways, MIN(wid) AS min_wid
         |FROM w1 GROUP BY 1""".stripMargin,

    "q26_dedup_exact" ->
      """SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q82_incr_dedup" ->
      """WITH d AS (SELECT doc_id, md5(text) AS text_md5 FROM documents),
        |snap AS (SELECT DISTINCT text_md5 FROM d WHERE doc_id % 2 = 0),
        |batch AS (SELECT * FROM d WHERE doc_id % 2 = 1)
        |SELECT text_md5, MIN(doc_id) AS keep_id
        |FROM batch
        |WHERE text_md5 NOT IN (SELECT text_md5 FROM snap)
        |GROUP BY text_md5""".stripMargin,

    // q83: the Bloom prefilter is exactness-neutral (no false
    // negatives; the anti-join discards false positives), so the oracle
    // is the plain set-difference dedup on the q83 snapshot/batch split
    "q83_bloom_dedup" ->
      """WITH d AS (SELECT doc_id, md5(text) AS text_md5 FROM documents),
        |snap AS (SELECT DISTINCT text_md5 FROM d WHERE doc_id % 3 = 0),
        |batch AS (SELECT * FROM d WHERE doc_id % 3 <> 0)
        |SELECT text_md5, MIN(doc_id) AS keep_id
        |FROM batch
        |WHERE text_md5 NOT IN (SELECT text_md5 FROM snap)
        |GROUP BY text_md5""".stripMargin,

    // q84: same md5h32(id ':' text) bucket arithmetic, same thresholds
    "q84_split" -> {
      val b = Dedup.md5h32Sql("CAST(doc_id AS VARCHAR) || ':' || text")
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < 980 THEN 'train'
         |       WHEN bucket < 990 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, $b % 1000 AS bucket FROM documents)""".stripMargin
    },

    // q85: bitlen(c) = length(bin(c)) is exact integer in both engines
    // — no float log-prob sum whose order could differ
    "q85_zipf_mass" ->
      s"""WITH tf AS (
         |  SELECT doc_id, u.term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents) x,
         |    LATERAL unnest(tk) u(term)
         |  GROUP BY 1, 2),
         |cnt AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS c FROM tf
         |  GROUP BY 1),
         |per AS (
         |  SELECT doc_id,
         |    CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |    COUNT(*) AS n_terms,
         |    CAST(SUM(tf * length(bin(c))) AS BIGINT) AS zipf_bits
         |  FROM tf JOIN cnt USING (term) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(p.n_tokens, 0) AS n_tokens,
         |  COALESCE(p.n_terms, 0) AS n_terms,
         |  COALESCE(p.zipf_bits, 0) AS zipf_bits
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin,

    // q86: q75's distinct-window machinery at w=5, doc frequency keyed
    // by (source, gram); ppm = exact integer division
    "q86_boilerplate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, $duckTokens AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, source,
         |    CASE WHEN len(tk) >= 5
         |      THEN list_transform(range(len(tk) - 4),
         |             i -> array_to_string(list_slice(tk, i + 1, i + 5), ' '))
         |      ELSE [array_to_string(tk, ' ')] END AS sg
         |  FROM toks),
         |e AS (
         |  SELECT doc_id, source, u.h FROM (
         |    SELECT doc_id, source,
         |      list_distinct(list_transform(sg, s -> ${Dedup.md5h32Sql("s")}))
         |        AS hs
         |    FROM sh) x, LATERAL unnest(hs) u(h)),
         |m AS (SELECT source, h, COUNT(*) AS nd FROM e GROUP BY 1, 2)
         |SELECT doc_id,
         |  COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN nd >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_boiler,
         |  (CAST(SUM(CASE WHEN nd >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // COUNT(*) AS boiler_ppm
         |FROM e JOIN m USING (source, h) GROUP BY doc_id""".stripMargin,

    // q87: same md5h32 bucket arithmetic; bitlen(c+1) = length(bin(c+1))
    // is exact integer in both engines (no float log-ratio sum)
    "q87_dsir_weights" -> {
      val b = Dedup.md5h32Sql("term")
      s"""WITH tf AS (
         |  SELECT doc_id, $b % 4096 AS b, COUNT(*) AS tf
         |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents) x,
         |    LATERAL unnest(tk) u(term)
         |  GROUP BY 1, 2),
         |dist AS (
         |  SELECT b, CAST(SUM(tf) AS BIGINT) AS cr,
         |    CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN tf ELSE 0 END)
         |      AS BIGINT) AS ct
         |  FROM tf GROUP BY 1),
         |per AS (
         |  SELECT doc_id,
         |    CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |    CAST(SUM(tf * (length(bin(ct + 1)) - length(bin(cr + 1))))
         |      AS BIGINT) AS dsir_bits
         |  FROM tf JOIN dist USING (b) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(p.n_tokens, 0) AS n_tokens,
         |  COALESCE(p.dsir_bits, 0) AS dsir_bits
         |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin
    },

    "q27_token_count" ->
      s"""SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tokens
         |FROM documents""".stripMargin,

    "q28_lang_id" -> {
      val langs = TextOps.markers.keys.toSeq.sorted
      def hitsExpr(l: String): String = {
        val ms = TextOps.markers(l).map(m => s"x = '$m'").mkString(" OR ")
        s"CAST(len(list_filter($duckTokens, x -> $ms)) AS BIGINT)"
      }
      val hitCols = langs.map(l => s"${hitsExpr(l)} AS h_$l").mkString(", ")
      s"""SELECT doc_id, ${langs.map(l => s"h_$l").mkString(", ")},
         |  ${markerCaseSql(l => s"h_$l")} AS guess
         |FROM (SELECT doc_id, $hitCols FROM documents)""".stripMargin
    },

    "q29_quality" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len($duckTokens) AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN len($duckTokens) > 0 THEN FLOOR(
         |    list_sum(list_transform($duckTokens, x -> length(x))) * 100
         |      / len($duckTokens))
         |    ELSE 0 END AS BIGINT) AS mean_tok_len_c,
         |  CASE WHEN length(text) < 100 THEN 1 ELSE 0 END AS is_short
         |FROM documents""".stripMargin,

    "q30_text_md5" ->
      "SELECT doc_id, md5(text) AS text_md5 FROM documents",

    "q32_minhash_lsh" -> minhashLshOracle,

    "q59_jaccard_verify" -> jaccardVerifyOracle,

    "q96_containment" -> containmentOracle,

    // q95: q59's verified pairs mapped to md5h63 domain nodes, distinct
    // domain edges, then the q13/q64 recursive min-label CC pattern;
    // singletons via the left-join coalesce, evidence = Σ n_shared at
    // each endpoint.
    "q95_mirror_domains" -> {
      val h = Dedup.md5h63Sql("source")
      s"""WITH RECURSIVE jv AS (
         |$jaccardVerifyOracle
         |),
         |dm AS (SELECT doc_id, source, $h AS nid FROM documents),
         |dup AS (SELECT id_a, id_b FROM jv WHERE is_dup = 1),
         |de0 AS (
         |  SELECT LEAST(a.nid, b.nid) AS src, GREATEST(a.nid, b.nid) AS dst
         |  FROM dup JOIN dm a ON a.doc_id = dup.id_a
         |           JOIN dm b ON b.doc_id = dup.id_b
         |  WHERE a.nid <> b.nid),
         |de AS (SELECT src, dst, COUNT(*) AS n_shared FROM de0 GROUP BY 1, 2),
         |sym AS (SELECT src, dst FROM de UNION SELECT dst, src FROM de),
         |r AS (
         |  SELECT src AS nid, src AS label FROM sym
         |  UNION
         |  SELECT s.dst AS nid, r.label FROM r JOIN sym s ON s.src = r.nid
         |  WHERE r.label < s.dst
         |),
         |cc AS (SELECT nid, MIN(label) AS comp FROM r GROUP BY nid),
         |doms AS (SELECT DISTINCT source, nid FROM dm),
         |asg AS (
         |  SELECT d.source, d.nid, COALESCE(cc.comp, d.nid) AS cluster
         |  FROM doms d LEFT JOIN cc ON cc.nid = d.nid),
         |sz AS (SELECT cluster, COUNT(*) AS n_domains FROM asg GROUP BY 1),
         |ev AS (
         |  SELECT nid, CAST(SUM(n_shared) AS BIGINT) AS n_dup_links FROM (
         |    SELECT src AS nid, n_shared FROM de
         |    UNION ALL SELECT dst, n_shared FROM de)
         |  GROUP BY 1)
         |SELECT a.source, a.cluster, z.n_domains,
         |  COALESCE(ev.n_dup_links, 0) AS n_dup_links,
         |  CAST(CASE WHEN a.nid = a.cluster THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_canonical
         |FROM asg a JOIN sz z ON z.cluster = a.cluster
         |LEFT JOIN ev ON ev.nid = a.nid""".stripMargin
    },

    // q94: bigrams from 1-based list indexing (range(1, len) = Spark's
    // sequence(1, size-1)); counts ≥ 1 so length(bin(c)) is the exact
    // bitlen; all sums are integer — order-free in both engines.
    "q94_bigram_lm" ->
      s"""WITH toks AS (SELECT doc_id, $duckTokens AS tk FROM documents),
         |bi0 AS (
         |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |  FROM toks, LATERAL unnest(range(1, len(tk))) u(i)),
         |bi AS (
         |  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bi0 GROUP BY 1, 2, 3),
         |cb AS (
         |  SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS cb
         |  FROM bi GROUP BY 1, 2),
         |cu AS (SELECT w1, CAST(SUM(tf) AS BIGINT) AS cu FROM bi GROUP BY 1),
         |pos AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(tf * length(bin(cb))) AS BIGINT) AS pb
         |  FROM bi JOIN cb USING (w1, w2) GROUP BY 1),
         |ctf AS (
         |  SELECT doc_id, w1, CAST(SUM(tf) AS BIGINT) AS tf
         |  FROM bi GROUP BY 1, 2),
         |neg AS (
         |  SELECT doc_id, CAST(SUM(tf * length(bin(cu))) AS BIGINT) AS nb
         |  FROM ctf JOIN cu USING (w1) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(pos.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(pos.pb, 0) - COALESCE(neg.nb, 0) AS lm_bits
         |FROM documents d
         |LEFT JOIN pos ON pos.doc_id = d.doc_id
         |LEFT JOIN neg ON neg.doc_id = d.doc_id""".stripMargin,

    // q92: q29's integer mean-token-length arithmetic composed into the
    // score, then the per-source rank as a plain SQL window (equal to the
    // engine's two-phase rank) and the exact integer ceiling for keep_n.
    "q92_quality_gate" ->
      s"""WITH s AS (
         |  SELECT doc_id, source,
         |    CAST(CASE WHEN len(tk) > 0 THEN FLOOR(
         |      list_sum(list_transform(tk, x -> length(x))) * 100
         |        / len(tk)) ELSE 0 END AS BIGINT) * 100000
         |    + LEAST(CAST(len(tk) AS BIGINT), 99999) AS score
         |  FROM (SELECT doc_id, source, $duckTokens AS tk FROM documents)),
         |r AS (
         |  SELECT doc_id, source, score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
         |    COUNT(*) OVER (PARTITION BY source) AS n
         |  FROM s)
         |SELECT doc_id, source, score, rank,
         |  CAST(CASE WHEN rank <= (n * 300000 + 999999) // 1000000
         |    THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM r""".stripMargin,

    // q91: replays q72's alloc arithmetic exactly (same floor/sqrt/ppm
    // steps), then the per-source running token sum in the same
    // deterministic (content-hash, id) order the Spark side uses; the
    // SQL window cumsum equals the engine's two-phase prefix sum.
    "q91_mixture_select" -> {
      val h = Dedup.md5h32Sql("CAST(doc_id AS VARCHAR) || ':' || text")
      s"""WITH tok AS (
         |  SELECT doc_id, source, text,
         |    CAST(len($duckTokens) AS BIGINT) AS n_tokens
         |  FROM documents),
         |agg AS (
         |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tok_mass
         |  FROM tok GROUP BY 1),
         |mx AS (SELECT MAX(tok_mass) AS m FROM agg),
         |a AS (
         |  SELECT source,
         |    CAST(FLOOR((1000 * CAST(FLOOR(1000000.0
         |        * sqrt(CAST(tok_mass AS DOUBLE)) / sqrt(CAST(m AS DOUBLE))
         |        + 0.5) AS BIGINT)) / 1000000.0) AS BIGINT) AS alloc
         |  FROM agg, mx),
         |hh AS (
         |  SELECT doc_id, source, n_tokens, $h AS h FROM tok),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM hh)
         |SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens,
         |  CAST(CASE WHEN c.cum_tokens <= a.alloc THEN 1 ELSE 0 END
         |    AS BIGINT) AS selected
         |FROM c JOIN a USING (source)""".stripMargin
    },

    // q90: same banded-candidate CTE as q32, then DuckDB's exact
    // levenshtein with the integer ppm normalisation; byte≡char on the
    // ASCII corpus. GREATEST(..., 1) guards the division in both engines.
    "q90_edit_verify" ->
      s"""WITH cand AS (
         |$minhashLshOracle
         |)
         |SELECT id_a, id_b, lev, ed_ppm,
         |  CAST(CASE WHEN ed_ppm <= 200000 THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_dup
         |FROM (
         |  SELECT c.id_a, c.id_b,
         |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
         |    (CAST(levenshtein(a.text, b.text) AS BIGINT) * 1000000)
         |      // GREATEST(len(a.text), len(b.text), 1) AS ed_ppm
         |  FROM cand c
         |  JOIN documents a ON a.doc_id = c.id_a
         |  JOIN documents b ON b.doc_id = c.id_b)""".stripMargin,

    "q61_simhash_pairs" -> simhashPairsOracle,

    "q33_simhash" -> simhashOracle,

    "q31_cosine_topk" ->
      """SELECT qid, rank, nid, CAST(FLOOR(sim * 1000000 + 0.5) AS BIGINT)
        |  AS sim_e6
        |FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |      list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id ASC) AS rank
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |) WHERE rank <= 3""".stripMargin,

    // q89: same knn CTE as q31 (e6-integerised per row), then the margin
    // entirely in BIGINT — (2·sim_e6·ka·kb·10⁶) // (sa·kb + sb·ka) —
    // so both engines agree bit-for-bit regardless of summation order.
    // den > 0 filters all-negative neighbourhoods before dividing; every
    // emitted row has a positive numerator, so DuckDB's floor-division
    // `//` and Spark's truncating DIV coincide.
    "q89_margin_mine" ->
      """WITH knn AS (
        |  SELECT qid, nid, sim_e6 FROM (
        |    SELECT a.vec_id AS qid, b.vec_id AS nid,
        |      CAST(FLOOR(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) * 1000000 + 0.5) AS BIGINT)
        |        AS sim_e6,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |          CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id ASC) AS rank
        |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
        |  WHERE rank <= 3),
        |sums AS (
        |  SELECT qid AS id, CAST(SUM(sim_e6) AS BIGINT) AS s,
        |    COUNT(*) AS kn
        |  FROM knn GROUP BY 1)
        |SELECT qid, nid, sim_e6, margin_ppm FROM (
        |  SELECT k.qid, k.nid, k.sim_e6,
        |    (2 * k.sim_e6 * a.kn * b.kn * 1000000) // (a.s * b.kn + b.s * a.kn)
        |      AS margin_ppm,
        |    (a.s * b.kn + b.s * a.kn) AS den
        |  FROM knn k JOIN sums a ON a.id = k.qid JOIN sums b ON b.id = k.nid)
        |WHERE den > 0 AND margin_ppm >= 1000000""".stripMargin)
}
