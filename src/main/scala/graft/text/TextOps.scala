package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline (builder brief):
  * language-ID heuristic, quality scoring, token counting, document
  * fingerprinting. All pure built-in Catalyst expressions — codegen'd,
  * oracle-reproducible, no UDFs in the hot path.
  */
object TextOps {

  /** Tokens = maximal runs of non-space characters (separator = 0x20;
    * fixed definition shared with the SQL oracle).
    */
  def tokens(text: Column): Column =
    filter(split(text, " ", -1), t => t =!= "")

  /** struct(n_tokens, tok_len_sum) in ONE native pass over the text
    * (graft.functions.TokenStats) — the HOF walks (`filter(split)` plus
    * an `aggregate` over token lengths) are interpreted per row.
    */
  def tokenStats(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.TokenStats(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  def tokenCount(text: Column): Column =
    tokenStats(text).getField("n_tokens").cast("int")

  /** HOF formulation of [[tokenCount]] — the spec's equivalence oracle. */
  private[graft] def tokenCountHof(text: Column): Column = size(tokens(text))

  /** Stopword-hit language ID: count whole-token hits of per-language
    * marker sets; guess = argmax language with ≥1 hit, else 'und'.
    */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "a", "to"),
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "un"),
    "es" -> Seq("el", "los", "las", "y", "una"))

  def markerHits(text: Column, lang: String): Column =
    size(filter(tokens(text), t => markers(lang).map(m => t === m).reduce(_ || _)))

  /** Deterministic language guess from marker hits (ties: lexicographic
    * language order wins). One native pass
    * (graft.functions.LangGuessExpr) — the HOF argmax fold
    * ([[langGuessHof]]) re-evaluated `filter(split(text))` + a
    * marker-membership filter ~2× per language per row. Null text is
    * null (the HOF form collapsed null to 'und' through `when`'s
    * null-as-false; no query feeds null text).
    */
  def langGuess(text: Column): Column = {
    val langs = markers.keys.toSeq.sorted
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.LangGuessExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(text),
        langs, langs.map(markers)))
  }

  /** HOF formulation of [[langGuess]] — the spec's equivalence oracle. */
  private[graft] def langGuessHof(text: Column): Column = {
    val langs = markers.keys.toSeq.sorted
    // argmax with first-wins tie-break over sorted language order
    val best = langs.foldLeft((lit(0), lit("und"))) { case ((bh, bl), l) =>
      val h = markerHits(text, l)
      (when(h > bh, h).otherwise(bh), when(h > bh, lit(l)).otherwise(bl))
    }
    best._2
  }

  /** Quality metrics: char count, token count, mean token length ×100
    * (floored), uppercase-start ratio proxy, short-doc flag.
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val stats = tokenStats(text)
    val nTok = stats.getField("n_tokens")
    val nChar = length(text)
    Seq(
      "n_chars" -> nChar.cast("long"),
      "n_tokens" -> nTok.cast("long"),
      "mean_tok_len_c" ->
        // same Column-level double division + floor as the HOF form
        when(nTok > 0,
          floor(stats.getField("tok_len_sum") * 100L / nTok))
          .otherwise(0L).cast("long"),
      "is_short" -> (nChar < 100).cast("long"))
  }

  /** HOF formulation of [[qualityColumns]] — the spec's equivalence oracle. */
  private[graft] def qualityColumnsHof(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks)
    val nChar = length(text)
    Seq(
      "n_chars" -> nChar.cast("long"),
      "n_tokens" -> nTok.cast("long"),
      "mean_tok_len_c" ->
        when(nTok > 0,
          floor(aggregate(toks, lit(0L), (acc, t) => acc + length(t)) * 100L / nTok))
          .otherwise(0L).cast("long"),
      "is_short" -> (nChar < 100).cast("long"))
  }

  /** BPE-ish subword pre-token count: the GPT-2 pretokenizer regex
    * (contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs), without the trailing-whitespace branch so the
    * pattern is portable between Java regex and RE2 (the DuckDB oracle).
    * A codegen'd `regexp_count` — no UDF, no explode.
    */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePattern))

  /** Polynomial rolling-hash fingerprint of the token stream:
    * h = Σ tok_hash · 31^pos  (mod 2^61−1-ish small prime), where
    * tok_hash is itself a char-level polynomial hash. Deterministic,
    * order-sensitive (a true document fingerprint, not a bag hash).
    * Built from `aggregate` higher-order functions — no UDF.
    */
  val FpPrime = 1000000007L

  def tokenHash(tok: Column): Column =
    aggregate(
      split(tok, "", -1),
      lit(7L),
      (acc, ch) => (acc * 31L + coalesce(ascii(ch).cast("long"), lit(0L))) % FpPrime)

  /** One native pass (graft.functions.RollingFingerprint) — the HOF form
    * ([[fingerprintHof]]) ran a per-character `aggregate` fold inside a
    * per-token `aggregate` fold, the most interpreted expression in the
    * engine.
    */
  def fingerprint(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.RollingFingerprint(
        org.apache.spark.sql.GraftColumnBridge.expression(text), FpPrime))

  /** HOF formulation of [[fingerprint]] — the spec's equivalence oracle. */
  private[graft] def fingerprintHof(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, tok) => (acc * 131L + tokenHash(tok)) % FpPrime)

  /** Gopher-style intra-document repetition signals (Rae et al. 2021,
    * appendix A1.1, token-level form): per doc and n ∈ {2, 3}, the token
    * fraction covered by the most frequent n-gram (`top{n}_e6`) and by
    * all n-grams occurring more than once (`dup{n}_e6`) — count × n /
    * n_tokens, ×1e6 floored so the gate compares exact integers.
    * Overlapping windows are counted as the raw occurrence counts (the
    * published filters do the same), so dup fractions may exceed 1e6 on
    * degenerate repetition — that is the signal working.
    *
    * 100 TB shape: one explode + two map-combinable groupBys KEYED BY
    * doc — n-grams never group corpus-wide, so there is no skew key and
    * no window; docs with no n-grams keep a row via the left join.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = col("tk")
    def gramStructs(n: Int) =
      when(size(tk) >= n,
        transform(sequence(lit(0), size(tk) - n),
          i => struct(lit(n).as("n"),
            concat_ws(" ", slice(tk, i + 1, lit(n))).as("g"))))
        .otherwise(array().cast("array<struct<n:int,g:string>>"))
    val base = docs.select(col(idCol), tokenCount(col(textCol)).cast("long")
      .as("n_tokens"))
    val perN = docs
      .select(col(idCol), tokens(col(textCol)).as("tk"))
      .select(col(idCol),
        explode(concat(gramStructs(2), gramStructs(3))).as("e"))
      .groupBy(col(idCol), col("e.n").as("n"), col("e.g").as("g"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol), col("n"))
      .agg(max("cnt").as("mx"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dups"))
      .groupBy(idCol)
      .agg(
        max(when(col("n") === 2, col("mx"))).as("mx2"),
        max(when(col("n") === 2, col("dups"))).as("dups2"),
        max(when(col("n") === 3, col("mx"))).as("mx3"),
        max(when(col("n") === 3, col("dups"))).as("dups3"))
    def frac(c: Column, mult: Long) =
      coalesce(floor((c * mult).cast("double") / col("n_tokens") + 0.5), lit(0L))
        .cast("long")
    base.join(perN, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        frac(col("mx2"), 2000000L).as("top2_e6"),
        frac(col("dups2"), 2000000L).as("dup2_e6"),
        frac(col("mx3"), 3000000L).as("top3_e6"),
        frac(col("dups3"), 3000000L).as("dup3_e6"))
  }

  /** Deterministic stratified quota sampling — the data-mixing primitive
    * of a corpus pipeline: keep a per-stratum fraction of documents
    * (rates in millionths), decided by an md5-derived keep key so the
    * sample is reproducible across engines, partitions, reruns, and
    * cluster sizes (no RNG state, no sort).
    *
    * 100 TB shape: a scan-only filter — zero shuffles, pushes nothing to
    * the driver, and composes with partition pruning; the per-stratum
    * rate table is a compile-time CASE, not a join.
    */
  def quotaSample(docs: DataFrame, idCol: String, stratumCol: String,
                  ratesE6: Map[String, Long], defaultE6: Long): DataFrame = {
    val keyE6 = graft.dedup.Dedup.md5h32(col(idCol).cast("string")) % 1000000L
    val rate = ratesE6.toSeq.sortBy(_._1).foldLeft(lit(defaultE6)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    docs.filter(keyE6 < rate).select(col(idCol), col(stratumCol))
  }

  /** Salient terms per document: top-k terms by a TF-IDF-style weight.
    * The idf is the RATIONAL form (n_docs+1)/(df+1) and the score is
    * exact integer floor-division `tf·(n_docs+1)·1e6 div (df+1)` — no
    * log and no floating point anywhere, so ranking and values are
    * bit-identical across engines and summation orders (a float idf
    * can flip ranks across libm implementations at the ulp).
    *
    * 100 TB shape: tf is keyed by (doc, term) — map-combinable, no skew
    * key; df reuses the already-distinct tf frame with one term-keyed
    * count; the tf⋈df join is term-keyed (left to AQE: a unigram
    * vocabulary at web scale — URLs, typos — can exceed broadcast size,
    * so a forced broadcast hint would be wrong); the top-k window
    * partitions by doc, never corpus-wide. Docs with zero tokens emit
    * no rows (no terms to rank).
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // scalar n_docs as an eager count folded into the plan as a literal:
    // a lazy crossJoin/constant-key join both plan as
    // BroadcastNestedLoopJoin (the full-suite plan audit bans it), and
    // count(*) on parquet is footer-metadata cheap; driver holds one long
    val nDocs = docs.count()
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_e6").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("n_docs", lit(nDocs))
      .withColumn("score_e6",
        expr("tf * (n_docs + 1) * 1000000 DIV (df + 1)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score_e6"), col("rnk"))
  }

  /** PII patterns — the RE2/Java-regex common subset (ASCII classes +
    * `\b` word boundaries only; no lookaround, which RE2 lacks), shared
    * verbatim with the DuckDB oracle SQL.
    */
  val PiiEmail = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PiiIp = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PiiPhone = "\\b555-[0-9]{4}\\b"

  /** PII redaction: struct(n_email, n_ip, n_phone, clean) where `clean`
    * is the text with emails → `<EMAIL>`, then dotted quads → `<IP>`,
    * then 555-prefix phones → `<PHONE>`. Each count is taken on the text
    * AT ITS replacement stage (emails first — their local parts contain
    * dots and digits that the later patterns would otherwise see), so
    * counts + clean are a well-defined function of the input regardless
    * of pattern overlap.
    *
    * 100 TB shape: pure codegen'd column expressions over one string —
    * scan-only, zero shuffles, composes with predicate pushdown.
    */
  def piiRedact(text: Column): Column = {
    val s1 = regexp_replace(text, PiiEmail, "<EMAIL>")
    val s2 = regexp_replace(s1, PiiIp, "<IP>")
    val s3 = regexp_replace(s2, PiiPhone, "<PHONE>")
    struct(
      size(regexp_extract_all(text, lit(PiiEmail), lit(0))).cast("long")
        .as("n_email"),
      size(regexp_extract_all(s1, lit(PiiIp), lit(0))).cast("long")
        .as("n_ip"),
      size(regexp_extract_all(s2, lit(PiiPhone), lit(0))).cast("long")
        .as("n_phone"),
      s3.as("clean"))
  }

  /** Domain-mixing weights: per `domainCol`, token mass and a
    * sqrt-smoothed sampling weight (UniMax/GPT-3-style upweighting of
    * small domains), integerised as parts-per-million OF THE LARGEST
    * domain so the float math is cross-engine exact: `sqrt` and `/` are
    * IEEE correctly-rounded single operations on exact integer inputs —
    * no float SUM whose order could differ between engines. `alloc` =
    * the document budget each domain would receive at those weights.
    *
    * 100 TB shape: one map-combinable groupBy on the domain key; the
    * max-token scalar is an O(#domains) driver aggregate folded back as
    * a literal (a scalar crossJoin would plan as the banned
    * BroadcastNestedLoopJoin).
    */
  /** Deterministic stratified train/valid/test split: bucket =
    * md5h32(id ':' text) mod 1000 → train < `trainPerMille`, valid <
    * `validPerMille`, else test. Content+id hashing (no RNG, no sort,
    * no state) makes the assignment a pure function of the row — stable
    * across engines, partitionings, reruns and cluster sizes, and
    * byte-identical copies of a text under the same id always land in
    * the same split (no train/test leakage through re-ingestion).
    *
    * 100 TB shape: scan-only projection — zero shuffles, composes with
    * pushdown; the per-stratum proportions are verified downstream by
    * any groupBy the caller wants, not enforced by a shuffle here.
    */
  def stratifiedSplit(docs: DataFrame, idCol: String, textCol: String,
                      trainPerMille: Int = 980,
                      validPerMille: Int = 990): DataFrame = {
    val bucket = graft.dedup.Dedup.md5h32(
      concat(col(idCol).cast("string"), lit(":"), col(textCol))) % 1000L
    docs.select(
      col(idCol),
      bucket.as("bucket"),
      when(bucket < trainPerMille, "train")
        .when(bucket < validPerMille, "valid")
        .otherwise("test").as("split"))
  }

  /** Corpus-frequency mass per document — a unigram-LM quality signal
    * with exact integer arithmetic: for each token occurrence add
    * bitlen(corpus_count(token)) = floor(log2 c)+1 (`length(bin(c))` —
    * an exact integer in any engine, unlike a float log-prob SUM whose
    * accumulation order breaks cross-engine equality at the ulp).
    * High `zipf_bits`/`n_tokens` ⇒ the document is made of common
    * tokens; garbage/rare-token documents score low. Emits one row per
    * document (zero-token docs get zeros).
    *
    * 100 TB shape: tf is (doc, term)-keyed — map-combinable, no skew;
    * the term-count join is THE skewed join of any unigram pipeline
    * (Zipf: 'the' joins everywhere), so it is split two-path — the
    * `headK` most frequent terms broadcast (tiny: K rows) and hit most
    * of the mass, the long tail shuffles WITHOUT its head keys (the
    * anti-join removed them), so no hot partition remains. The final
    * agg is doc-keyed.
    */
  def zipfMass(docs: DataFrame, idCol: String, textCol: String,
               headK: Int = 1024): DataFrame = {
    // tf feeds the term-count agg, the head join AND the tail anti-join
    // — stage it once (tokenize + groupBy is the expensive pass; without
    // the checkpoint Catalyst plans three full corpus scans)
    val tf = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val cnt = tf.groupBy("term").agg(sum("tf").as("c"))
    val head = cnt.orderBy(col("c").desc, col("term").asc).limit(headK)
    val scoredHead = tf.join(broadcast(head), Seq("term"))
    val scoredTail = tf
      .join(broadcast(head.select("term")), Seq("term"), "left_anti")
      .join(cnt, Seq("term"))
    val perDoc = scoredHead.unionByName(scoredTail)
      .groupBy("id")
      .agg(sum("tf").as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(col("tf") * length(bin(col("c")))).as("zipf_bits"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("zipf_bits"), lit(0L)).as("zipf_bits"))
  }

  /** Per-domain boilerplate detection (the CCNet/Trafilatura idea on a
    * corpus with no line structure): a `w`-gram is boilerplate within a
    * domain when it occurs in ≥ `minDocs` distinct documents of that
    * domain (nav bars, footers, cookie banners repeat across a site's
    * pages; real prose doesn't). Emits per document the distinct-gram
    * count, how many are boilerplate, and the boilerplate fraction in
    * ppm (exact integer division).
    *
    * 100 TB shape: per-doc-DISTINCT gram hashes (one fused native
    * ShingleHashes pass) make the (domain, gram) count a plain
    * map-combinable groupBy = document frequency; the flag join is
    * (domain, gram)-keyed — co-partitioned with the count it consumes,
    * and domain-local so no corpus-wide hot key; the final agg is
    * doc-keyed. Nothing touches the driver.
    */
  def boilerplateStats(docs: DataFrame, idCol: String, domainCol: String,
                       textCol: String, w: Int = 5,
                       minDocs: Int = 3): DataFrame = {
    // grams feeds BOTH the doc-frequency agg and the flag join — stage
    // it once (shingle + md5 + explode is the expensive pass; without
    // the checkpoint Catalyst plans two full corpus scans)
    val grams = docs.select(
      col(idCol).as("id"), col(domainCol).as("dom"),
      explode(graft.dedup.Dedup.distinctShingleHashes(col(textCol), w))
        .as("h"))
      .localCheckpoint(true)
    val freq = grams.groupBy("dom", "h").agg(count(lit(1)).as("nd"))
    grams.join(freq, Seq("dom", "h"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_ppm", expr("n_boiler * 1000000 DIV n_grams"))
      .select(col("id").as(idCol), col("n_grams"), col("n_boiler"),
        col("boiler_ppm"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): hashed unigram
    * features in `buckets` buckets; each document scores
    * Σ_b tf_b · (bitlen(target_count_b + 1) − bitlen(raw_count_b + 1)) —
    * the exact-integer analogue of the paper's Σ log p_target(f)/p_raw(f)
    * (bitlen = floor(log2)+1, so the score is a log-ratio in bits,
    * reproducible bit-for-bit in any engine, unlike a float log sum).
    * `isTarget` marks the trusted-domain sample rows. High `dsir_bits`
    * ⇒ the document's hashed-feature profile looks like the target
    * distribution. One row per document (zero-token docs get zeros).
    *
    * 100 TB shape: the per-doc tf agg is (doc, bucket)-keyed —
    * map-combinable, ≤ `buckets` distinct hash values per doc; BOTH
    * distribution tables are bounded at `buckets` rows regardless of
    * corpus size, so the score join is a broadcast of a few-KB table —
    * no corpus-sized shuffle beyond the one tf groupBy, no Zipf hot key
    * (buckets spread the head terms by construction).
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, buckets: Int = 4096): DataFrame = {
    // tf feeds BOTH the distribution agg and the score join — stage it
    // once (tokenize + md5 + groupBy is the expensive pass; without the
    // checkpoint Catalyst plans two full corpus scans)
    val tf = docs
      .select(col(idCol).as("id"), isTarget.as("tgt"),
        explode(tokens(col(textCol))).as("term"))
      .withColumn("b", graft.dedup.Dedup.md5h32(col("term")) % buckets)
      .groupBy("id", "tgt", "b").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dist = tf.groupBy("b").agg(
      sum("tf").as("cr"),
      sum(when(col("tgt"), col("tf")).otherwise(0L)).as("ct"))
    val perDoc = tf.join(broadcast(dist), Seq("b"))
      .groupBy("id")
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") *
          (length(bin(col("ct") + 1L)) - length(bin(col("cr") + 1L)))
            .cast("long")).as("dsir_bits"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("dsir_bits"), lit(0L)).as("dsir_bits"))
  }

  /** Deterministic global shuffle → fixed-size training shards: order
    * the corpus by (md5h32(id ':' text), id) — a content hash, so the
    * permutation is a pure function of the data (stable across reruns,
    * partitionings and cluster sizes; no RNG, no seed file) — then cut
    * every `shardSize` rows. Emits (id, h, shard, pos): the exact shard
    * file and offset each document lands in, which is what a training
    * job needs to resume mid-epoch.
    *
    * 100 TB shape: the global order comes from
    * [[graft.runtime.Ranks.withGlobalRowNumber]] — one range exchange +
    * partition-local row_number + an O(#partitions) offset map; never a
    * single-partition Window. Hash keys are uniform by construction, so
    * the range partitions are balanced with no skew handling needed.
    */
  def shuffleShards(docs: DataFrame, idCol: String, textCol: String,
                    shardSize: Long = 1000L): DataFrame = {
    val withH = docs.select(
      col(idCol),
      graft.dedup.Dedup.md5h32(
        concat(col(idCol).cast("string"), lit(":"), col(textCol))).as("h"))
    graft.runtime.Ranks
      .withGlobalRowNumber(withH, Seq(col("h"), col(idCol)), "rn")
      .select(col(idCol), col("h"),
        expr(s"(rn - 1L) DIV ${shardSize}L").as("shard"),
        ((col("rn") - 1L) % shardSize).as("pos"))
  }

  /** CCNet-style perplexity-filter analogue in exact integer bits: a
    * bigram "LM" trained on the corpus itself (bigram + context counts),
    * each document scored by the bitlen analogue of its token stream's
    * conditional log-probability:
    *   lm_bits = Σ_instances (bitlen(c(w1 w2)) − bitlen(c(w1 ·)))
    * (bitlen = floor(log2)+1, counts ≥ 1 by construction; each term ≈
    * log2 p(w2|w1) up to rounding — near 0 = predictable text, strongly
    * negative = gibberish). Exact integers end to end, so the DuckDB
    * oracle replays it bit-for-bit in any summation order.
    *
    * 100 TB shape: both count joins ride per-doc (doc, key)-keyed tf
    * frames — map-combinable, no instance-level join rows — and each is
    * split broadcast-head/shuffle-tail on the Zipf head (the q85
    * treatment): the `headK` hottest keys join from a broadcast table,
    * the long tail from a key-partitioned shuffle with no hot key. The
    * deduplicated bigram frame is checkpointed once and feeds the count
    * aggs, both head joins and both tail anti-joins.
    */
  def bigramLmBits(docs: DataFrame, idCol: String, textCol: String,
                   headK: Int = 1024): DataFrame = {
    val bi = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("id"), explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> " +
          "struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))"))
        .as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("id", "w1", "w2").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val cb = bi.groupBy("w1", "w2").agg(sum("tf").as("cb"))
    val cu = bi.groupBy("w1").agg(sum("tf").as("cu"))
    val ctf = bi.groupBy("id", "w1").agg(sum("tf").as("tf"))
    val headB = cb.orderBy(col("cb").desc, col("w1").asc, col("w2").asc)
      .limit(headK)
    val pos = bi.join(broadcast(headB), Seq("w1", "w2"))
      .unionByName(bi
        .join(broadcast(headB.select("w1", "w2")), Seq("w1", "w2"),
          "left_anti")
        .join(cb, Seq("w1", "w2")))
      .groupBy("id")
      .agg(sum("tf").as("n_bigrams"),
        sum(col("tf") * length(bin(col("cb")))).as("pb"))
    val headU = cu.orderBy(col("cu").desc, col("w1").asc).limit(headK)
    val neg = ctf.join(broadcast(headU), Seq("w1"))
      .unionByName(ctf
        .join(broadcast(headU.select("w1")), Seq("w1"), "left_anti")
        .join(cu, Seq("w1")))
      .groupBy("id")
      .agg(sum(col("tf") * length(bin(col("cu")))).as("nb"))
    docs.select(col(idCol).as("id"))
      .join(pos, Seq("id"), "left")
      .join(neg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (coalesce(col("pb"), lit(0L)) - coalesce(col("nb"), lit(0L)))
          .as("lm_bits"))
  }

  /** Token-budget mixture selection — materialise the training mix that
    * [[domainMixWeights]] only prices: each domain gets its `alloc`-token
    * quota, documents enter in deterministic content-hash order (a pure
    * function of the data — stable across reruns, partitionings and
    * cluster sizes), and a document is selected while the domain's
    * running token sum stays within quota. Emits every document with its
    * position (`cum_tokens`) and a `selected` flag, so the caller can
    * audit the cut line per domain.
    *
    * 100 TB shape: the per-domain prefix sum is NOT a
    * `Window.partitionBy(domain)` (one task per domain — a mega-domain
    * is a straggler); it is the global two-phase range prefix sum
    * ([[graft.runtime.Ranks.withGlobalCumsumLong]] ordered by
    * (domain, hash, id)) minus a broadcast per-domain exclusive base —
    * a huge domain spans MANY range partitions, so there is no
    * single-task hot spot. Driver state = O(#domains) longs, the same
    * contract as the weights table itself.
    */
  def mixtureSelect(docs: DataFrame, idCol: String, domainCol: String,
                    textCol: String, budget: Long): DataFrame = {
    val alloc = domainMixWeights(docs, domainCol, textCol, budget)
      .select(col(domainCol).as("src"), col("alloc"))
    val scored = docs.select(col(idCol).as("id"),
      col(domainCol).as("src"),
      tokenCount(col(textCol)).cast("long").as("n_tokens"),
      graft.dedup.Dedup.md5h32(
        concat(col(idCol).cast("string"), lit(":"), col(textCol))).as("h"))
    val cum = graft.runtime.Ranks.withGlobalCumsumLong(
      scored, Seq(col("src"), col("h"), col("id")), col("n_tokens"), "gcum")
    val totals = cum.groupBy("src").agg(sum("n_tokens").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    var run = 0L
    val baseMap: Map[String, Long] = totals.map { case (s, tm) =>
      val b = s -> run; run += tm; b
    }.toMap
    cum
      .withColumn("dom_cum",
        col("gcum") - element_at(typedLit(baseMap), col("src")))
      .join(broadcast(alloc), Seq("src"))
      .withColumn("selected",
        when(col("dom_cum") <= col("alloc"), 1L).otherwise(0L))
      .select(col("id").as(idCol), col("src").as(domainCol),
        col("n_tokens"), col("dom_cum").as("cum_tokens"), col("selected"))
  }

  def domainMixWeights(docs: DataFrame, domainCol: String, textCol: String,
                       budget: Long): DataFrame = {
    val agg = docs
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol)).cast("long")).as("tok_mass"))
    val maxTok = agg.agg(max(col("tok_mass"))).head.getLong(0)
    agg
      .withColumn("weight_ppm",
        floor(lit(1000000.0) * sqrt(col("tok_mass").cast("double")) /
          sqrt(lit(maxTok.toDouble)) + lit(0.5)).cast("long"))
      .withColumn("alloc",
        floor((lit(budget) * col("weight_ppm")) / lit(1000000.0))
          .cast("long"))
  }

  /** BPE merge-pair counting — the inner loop of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016, §3): the corpus-wide
    * frequency of every adjacent character pair, weighted by word
    * frequency (overlapping positions count, e.g. "aaa" contributes
    * "aa" twice — positional enumeration, the standard first-iteration
    * count). Returns (pair, n_occ, n_words = distinct words containing
    * the pair); argmax n_occ is the first BPE merge.
    *
    * 100 TB shape: the token stream collapses to the VOCABULARY first
    * (one groupBy with map-side combine — the only corpus-sized
    * shuffle); pair enumeration then runs over distinct words only, so
    * each merge-count round costs O(vocab), independent of corpus size
    * — exactly why BPE training scales.
    */
  /** Full iterative BPE trainer (Sennrich et al. 2016, algorithm 1) —
    * `rounds` greedy merges, not just [[bpePairCounts]]' first count:
    * each round counts adjacent TOKEN pairs over the current vocabulary
    * tokenization (weighted by word frequency, overlap-counted), picks
    * the argmax pair (ties → count desc, then pair lexicographic asc),
    * and rewrites every word's token sequence with the standard greedy
    * left-to-right non-overlapping merge (a left fold: "aaa" under
    * merge (a,a) becomes [aa, a]).
    *
    * Returns one row per merge: (merge_rank, lt, rt, n_occ,
    * vocab_tokens, corpus_tokens) — the merge table a tokenizer ships,
    * plus the post-merge token counts that measure compression.
    *
    * 100 TB shape: the corpus collapses to (word, cnt) once (the only
    * corpus-sized shuffle, map-side combined); every round then costs
    * O(vocab) — one pair explode + groupBy, one argmax `limit(1)`, one
    * fold-rewrite projection — independent of corpus size. The rewrite
    * fold is an interpreted HOF, acceptable because it runs on the
    * vocabulary, never the corpus. Driver state: `rounds` merge rows.
    */
  def bpeTrain(docs: DataFrame, textCol: String, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainLoop(docs, textCol, rounds)._1
      .toDF("merge_rank", "lt", "rt", "n_occ", "vocab_tokens",
        "corpus_tokens")
  }

  /** Shared BPE training loop: returns the merge rows AND the final
    * vocabulary tokenization frame (word, cnt, toks) — the state
    * [[bpeTrain]] reports on and [[bpeEncode]] reads out.
    */
  private def bpeTrainLoop(docs: DataFrame, textCol: String, rounds: Int)
      : (Seq[(Long, String, String, Long, Long, Long)], DataFrame) = {
    val wc = docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val gen = new graft.runtime.CheckpointGen
    var cur = gen.rotate(wc.select(col("word"), col("cnt"),
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("toks")))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = cur
        .select(col("cnt"), posexplode(slice(col("toks"), lit(1),
          size(col("toks")) - 1)).as(Seq("i", "t1")), col("toks"))
        .select(col("cnt"), col("t1"),
          element_at(col("toks"), col("i") + 2).as("t2"))
        .groupBy("t1", "t2").agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("t1").asc, col("t2").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (t1, t2, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val merged = t1 + t2
        cur = gen.rotate(cur.select(col("word"), col("cnt"),
          aggregate(col("toks"),
            array().cast("array<string>"),
            (acc, x) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(t1) &&
                x === lit(t2),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
              .otherwise(concat(acc, array(x)))).as("toks")))
        val stats = cur.agg(
          sum(size(col("toks")).cast("long")).as("v"),
          sum(size(col("toks")).cast("long") * col("cnt")).as("c")).head()
        out += ((r.toLong, t1, t2, n, stats.getLong(0), stats.getLong(1)))
        r += 1
      }
    }
    (out.toSeq, cur)
  }

  /** BPE encode (the apply step that pairs with [[bpeTrain]]): tokenize
    * the corpus under the vocabulary trained by `rounds` greedy merges
    * and return the corpus token histogram — one row per distinct final
    * token with `n_words` (distinct words using it) and `n_occ` (total
    * corpus occurrences, word-frequency-weighted). This is the table a
    * tokenizer-qa pass reads: which symbols exist after training, and
    * how much corpus mass each carries.
    *
    * 100 TB shape: identical to training — the corpus collapses to
    * (word, cnt) once; encode + histogram run on the vocabulary
    * (per-word token multiplicity first, then a token-keyed partial
    * agg), never on documents. Output is O(|vocab alphabet| + rounds).
    */
  def bpeEncode(docs: DataFrame, textCol: String, rounds: Int = 3): DataFrame = {
    val (_, vocab) = bpeTrainLoop(docs, textCol, rounds)
    vocab
      .select(col("word"), col("cnt"), explode(col("toks")).as("tok"))
      .groupBy("word", "cnt", "tok")
      .agg(count(lit(1)).as("k"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n_words"),
        sum(col("k") * col("cnt")).as("n_occ"))
  }

  /** Exact per-group deciles (percentile_disc type-1: value at rank
    * ⌈q·n/10⌉) of an integer column, WITHOUT a corpus-sized per-group
    * window: the frame collapses to the (key, value) HISTOGRAM first
    * (one corpus-sized shuffle with map-side combine), so the window
    * that forms cumulative counts runs over distinct values per group —
    * bounded by value cardinality, not row count. Rank targets are
    * integer arithmetic (`(q·n + 9) DIV 10`), so results are exact and
    * partitioning-independent at any scale. Returns (key, q ∈ 1..9,
    * value).
    *
    * 100 TB shape: a skewed group (one source = 30 % of the corpus)
    * costs its histogram partial-agg — distributed — plus a window over
    * its DISTINCT values only; the naive
    * `percent_rank().over(partitionBy(key))` would serialise the whole
    * group into one task.
    */
  def groupDeciles(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.groupBy(keyCol, valCol).agg(count(lit(1)).as("__k"))
    val cum = hist.withColumn("__cum",
      sum("__k").over(Window.partitionBy(keyCol).orderBy(valCol)))
    val tot = hist.groupBy(keyCol).agg(sum("__k").as("__n"))
    cum.join(tot, Seq(keyCol))
      .select(col(keyCol), col(valCol), col("__cum"), col("__n"),
        explode(expr("sequence(1L, 9L)")).as("q"))
      .where(col("__cum") >= expr("(q * __n + 9) DIV 10"))
      .groupBy(keyCol, "q")
      .agg(min(valCol).as(valCol))
  }

  def bpePairCounts(docs: DataFrame, textCol: String): DataFrame = {
    val wc = docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    wc.where(length(col("word")) >= 2)
      .select(col("word"), col("cnt"), explode(expr(
        "transform(sequence(1, length(word) - 1)," +
          " i -> substring(word, i, 2))")).as("pair"))
      .groupBy("pair")
      .agg(sum("cnt").as("n_occ"), countDistinct(col("word")).as("n_words"))
  }

  /** fastText-style hashed-linear quality classifier inference (the
    * model-based filter of CCNet/RefinedWeb pipelines): per doc,
    * score = Σ over tokens of w(md5h63(tok) mod `buckets`) with the
    * deterministic weight table w(b) = (b mod 2001) − 1000, fused into
    * one codegen'd pass ([[graft.functions.TokenLinearScore]] — no
    * per-token explode, no stored-model side input, no shuffle: pure
    * scan parallelism at any scale). `keep` = score > 0.
    */
  def hashClassifier(docs: DataFrame, idCol: String, textCol: String,
                     buckets: Int = 4096): DataFrame =
    docs.select(col(idCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens"),
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.TokenLinearScore(
            org.apache.spark.sql.GraftColumnBridge.expression(col(textCol)),
            buckets)).as("score"))
      .withColumn("keep", (col("score") > 0L).cast("long"))

  /** Count-min sketch of token frequencies (Cormode–Muthukrishnan 2005)
    * — the mergeable fixed-size summary behind corpus n-gram statistics
    * at scales where an exact count table is itself a big-data problem.
    * `depth` hash rows × `width` counters; row r hashes each token
    * occurrence to column md5h63("r:" + tok) mod width. Returns the
    * counter table (row_id, col_id, cnt) — point estimates are
    * min over rows of cnt[r][h_r(t)], an upper bound on the true count.
    *
    * 100 TB shape: map-side partial aggregation collapses every
    * partition to ≤ depth·width counter rows before the one bounded
    * shuffle; the output is O(depth·width) regardless of corpus size,
    * and two sketches merge by adding counters (the property that makes
    * it a distributed-aggregation citizen).
    */
  def countMinSketch(docs: DataFrame, textCol: String,
                     depth: Int = 4, width: Int = 1024): DataFrame =
    // collapse to (token, count) BEFORE hashing (guide §2.3 "aggregate
    // before you shuffle"): depth× md5 per DISTINCT token instead of per
    // occurrence — a Zipf corpus repeats its head tokens millions of
    // times, and the counter merge is exact under the regroup
    docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r.toLong).as("row_id"),
          pmod(graft.dedup.Dedup.md5h63(
            concat(lit(s"$r:"), col("tok"))), lit(width.toLong))
            .as("col_id"))): _*)).as("rc"), col("n"))
      .groupBy(col("rc.row_id").as("row_id"), col("rc.col_id").as("col_id"))
      .agg(sum("n").as("cnt"))
}
