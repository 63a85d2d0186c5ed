package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deduplication + similarity operators for the training-data pipeline:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine.
  * All expressed as DataFrame transforms (shuffle-friendly at 100 TB:
  * the only wide ops are groupBy on hash keys and the LSH band join).
  */
object Dedup {

  /** Exact dedup: one keeper (min id) per identical text. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup for a continuously-growing corpus: from a
    * NEW batch, keep the min-id first occurrence of each text that does
    * not already exist in the accumulated snapshot. All-equi shapes
    * (anti join on the content hash + hash groupBy) — at 10^12 rows the
    * snapshot side is the big one, which is exactly what a shuffled hash
    * anti-join partitions; no broadcast assumption.
    */
  def incremental(
      snapshot: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    batch.select(col(idCol), md5(col(textCol)).as("text_md5"))
      .join(snapshot.select(md5(col(textCol)).as("text_md5")),
        Seq("text_md5"), "left_anti")
      .groupBy("text_md5")
      .agg(min(col(idCol)).as("keep_id"))

  /** [[incremental]] with a Bloom-prefiltered snapshot scan — the shape
    * a daily-crawl dedup actually runs at 10^12 rows. The batch (new
    * crawl) is orders of magnitude smaller than the accumulated
    * snapshot, so shuffling the full snapshot into the anti-join every
    * day is the dominant cost. Instead:
    *
    *  1. build a Bloom filter over the BATCH content hashes with one
    *     distributed partial-aggregate pass
    *     (`catalyst.expressions.aggregate.BloomFilterAggregate` — the
    *     sketch Spark's own runtime row-level filtering injects; the
    *     driver holds one merged `numBits/8`-byte sketch);
    *  2. prefilter the snapshot SCAN with `BloomFilterMightContain` —
    *     only snapshot rows whose hash possibly occurs in the batch
    *     survive into the exchange, so anti-join shuffle traffic is
    *     O(|batch| + false-positives), not O(|snapshot|);
    *  3. the exact anti-join on the survivors gives a result identical
    *     to [[incremental]]: Bloom filters have no false negatives, and
    *     false positives only add non-matching rows the anti-join
    *     discards. Correctness never depends on the sketch parameters.
    *
    * `estimatedItems`/`numBits` size the sketch (fixed defaults here —
    * deterministic, no extra pass; a production job sizes them from
    * crawl-batch telemetry).
    */
  def incrementalBloom(snapshot: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       estimatedItems: Long = 1L << 20,
                       numBits: Long = 1L << 23): DataFrame = {
    val batchKeys = batch
      .select(col(idCol).as("bid"), md5(col(textCol)).as("text_md5"))
    val bloom = bloomOver(batchKeys, "text_md5", estimatedItems, numBits)
    val snapKeys = snapshot.select(md5(col(textCol)).as("text_md5"))
    val snapHits =
      if (bloom == null) snapKeys.limit(0) // empty batch: nothing can match
      else snapKeys.filter(mightContain(bloom, col("text_md5")))

    batchKeys.join(snapHits, Seq("text_md5"), "left_anti")
      .groupBy("text_md5")
      .agg(min(col("bid")).as("keep_id"))
  }

  /** One distributed partial-aggregate pass building a Bloom sketch over
    * a string column (null when the frame is empty). Driver holds one
    * merged numBits/8-byte array.
    */
  private[graft] def bloomOver(df: DataFrame, c: String,
                               estimatedItems: Long,
                               numBits: Long): Array[Byte] = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{XxHash64, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val agg = column(
      new BloomFilterAggregate(
        new XxHash64(Seq(expression(col(c)))),
        Literal(estimatedItems), Literal(numBits)).toAggregateExpression())
    df.select(agg.as("bf")).head.getAs[Array[Byte]]("bf")
  }

  /** Codegen'd Bloom membership probe over a string column. */
  private[graft] def mightContain(bloom: Array[Byte], c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64, Literal}
    column(BloomFilterMightContain(
      Literal(bloom), new XxHash64(Seq(expression(c)))))
  }

  // ---- Engine-portable hash primitives ------------------------------------
  // md5 is bit-identical in Spark and DuckDB, so hashes derived from its hex
  // digits make MinHash/SimHash fully oracle-able (round-1 q32/q33 were
  // rows-only because xxhash64 is Spark-specific).

  /** 32-bit hash: first 8 md5 hex digits parsed base-16. */
  def md5h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  def md5h32Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 8) AS BIGINT)"

  /** 63-bit hash: (h32 & 0x7FFFFFFF) << 32 | next 8 hex digits — stays
    * positive and all arithmetic fits BIGINT in both engines.
    */
  def md5h63(c: Column): Column =
    md5h32(c).bitwiseAND(lit(0x7FFFFFFFL)) * lit(4294967296L) +
      conv(substring(md5(c), 9, 8), 16, 10).cast("long")

  def md5h63Sql(e: String): String =
    s"((CAST('0x' || substr(md5($e), 1, 8) AS BIGINT) & 2147483647)" +
      s" * 4294967296 + CAST('0x' || substr(md5($e), 9, 8) AS BIGINT))"

  // ---- MinHash + LSH ----------------------------------------------------

  val MersennePrime: Long = (1L << 61) - 1

  /** Deterministic affine hash family parameters (seeded, no RNG).
    * a < 2^30 (odd) and b < 2^61 so a·h32 + b < 2^63 — the affine step is
    * overflow-free BIGINT math in DuckDB too (DuckDB errors on overflow
    * where Spark wraps, so the oracle requires this bound).
    */
  def hashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = 2862933555777941757L * (i + 1) + 3037000493L
      val b = 4294967291L * (i + 7) + 1442695040888963407L
      ((math.abs(a) % (1L << 30)) | 1L, math.abs(b) % MersennePrime)
    }

  /** Word w-shingles of the token stream, joined by a single space. */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) >= w,
      transform(sequence(lit(0), size(toks) - w),
        i => concat_ws(" ", slice(toks, i + 1, lit(w)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** HOF formulation of the shingle-hash array (every window, in order)
    * that [[graft.functions.ShingleHashes]] computes natively — the
    * spec's equivalence oracle. */
  private[graft] def shingleHashesHof(text: Column, w: Int = 3): Column =
    transform(shingles(text, w), s => md5h32(s))

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD 2003):
    * minimum w-gram hash per sliding window of `win` grams, rightmost on
    * ties — the MOSS local fingerprint. Unlike shingle-hash
    * MinHash (a whole-document sketch) this selects POSITIONED grams
    * with the guarantee that any shared token run of length ≥ w+win−1
    * produces a shared fingerprint, keeping only ~2/(win+1) of grams —
    * the index for substring-level plagiarism/quote detection. Each
    * selection is one long, `pos·2³² + md5h32(gram)` (both fit), so the
    * array stays primitive and decodes with integer DIV/%.
    */
  def winnowFingerprints(text: Column, w: Int = 3, win: Int = 4): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.WinnowFingerprints(
        org.apache.spark.sql.GraftColumnBridge.expression(text), w, win))

  /** Cross-document winnowing-fingerprint matching — the end-to-end
    * substring-dup miner over [[winnowFingerprints]]: two docs sharing
    * `minShared`+ selected gram hashes share (with the SWA guarantee)
    * verbatim token runs — quote farms, templated spam, plagiarised
    * passages — even when whole-doc MinHash similarity is negligible.
    *
    * 100 TB shape: identical to LSH banding — explode → per-doc distinct
    * → groupBy fingerprint → pairs within bucket. Mega-buckets (a
    * boilerplate gram selected in millions of docs) are dropped by
    * `maxBucket` exactly like the LSH bucket cap: a fingerprint shared
    * by >maxBucket docs identifies boilerplate, not plagiarism, and
    * would otherwise quadratically explode the pair list.
    */
  def winnowMatchPairs(
      docs: DataFrame, idCol: String, textCol: String,
      w: Int = 3, win: Int = 4, maxBucket: Int = 1000,
      minShared: Long = 2L): DataFrame = {
    val fps = docs
      .select(col(idCol).as("id"),
        explode(winnowFingerprints(col(textCol), w, win)).as("e"))
      .select(col("id"), expr("e % 4294967296L").as("fp"))
      .distinct()
    val grouped = fps.groupBy("fp")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    grouped
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"""
          .stripMargin.replace("\n", " "))).as("p"))
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= minShared)
  }

  /** Per-token md5h63 hash array (the SimHash staging column) — fused
    * native pass; order-preserving, duplicates kept (votes count every
    * occurrence).
    */
  def tokenHashes63(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.TokenHashes63(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** MinHash signature (array<long>, length numHashes) from a
    * pre-materialised shingle-hash column. A native Catalyst expression
    * (graft.functions.MinHashSig): ONE codegen'd pass over the hash array
    * computing all numHashes minima — the HOF form it replaces
    * ([[minhashSignatureFromHashesHof]]) is numHashes interpreted
    * `transform`+`array_min` traversals (Spark HOFs are CodegenFallback),
    * each allocating an intermediate array per row. Bit-identical output
    * (DedupSpec pins it), so every MinHash oracle is unchanged.
    */
  def minhashSignatureFromHashes(hs: Column, numHashes: Int = 64): Column = {
    val (as, bs) = hashParams(numHashes).unzip
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.GraftColumnBridge.expression(hs), as, bs))
  }

  /** The higher-order-function formulation of [[minhashSignatureFromHashes]]
    * — kept as the spec's equivalence oracle (DedupSpec proves the native
    * expression bit-equal to this on randomized inputs).
    */
  private[graft] def minhashSignatureFromHashesHof(
      hs: Column, numHashes: Int = 64): Column = {
    val cols = hashParams(numHashes).map { case (a, b) =>
      array_min(transform(hs, h => pmod(h * lit(a) + lit(b), lit(MersennePrime))))
    }
    array(cols: _*)
  }

  /** LSH band keys: split the signature into `bands` rows of
    * numHashes/bands values; each band hashes to one bucket key — the
    * 63-bit md5 prefix ([[md5h63]]) of the comma-joined values. A LONG
    * key (engine-portable like the md5 hex string it replaced, and the
    * DuckDB oracle replays the same math) so the exploded
    * docs×bands bucket frame shuffles 8-byte keys instead of 32-char
    * strings — at 10⁹ docs × 16 bands that is hundreds of GB less
    * shuffle. A 63-bit collision fuses two buckets (odds ≈ b²/2⁶⁴);
    * candidates are exact-verified downstream, and the oracle mirrors
    * the same keys.
    */
  def lshBandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    val cols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5h63(concat_ws(",",
          transform(slice(sig, b * r + 1, r), _.cast("string")))).as("key"))
    }
    array(cols: _*)
  }

  /** Candidate near-duplicate pairs via LSH banding over a pre-staged
    * `(id, hs)` frame: documents sharing any band bucket. Returns
    * (id_a, id_b, n_shared_bands) with a < b. Scale shape:
    * explode(bands) → groupBy bucket → pairs within bucket; skewed
    * mega-buckets are capped by `maxBucket`. When the caller also needs
    * the hash sets for exact verification, stage
    * [[distinctShingleHashes]] ONCE (signatures are
    * identical on the distinct set — a per-hash min is
    * duplicate-insensitive) and feed it to both stages instead of
    * re-hashing the text.
    */
  def minhashCandidatesFromHashes(
      idHs: DataFrame,
      numHashes: Int = 64, bands: Int = 16, maxBucket: Int = 1000): DataFrame = {
    val withSig = idHs
      .select(col("id"), minhashSignatureFromHashes(col("hs"), numHashes).as("sig"))
    val buckets = withSig
      .select(col("id"), explode(lshBandKeys(col("sig"), numHashes, bands)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val grouped = buckets
      .groupBy("band", "key")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    grouped
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"""
          .stripMargin.replace("\n", " "))).as("p"))
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Edit-distance verification of MinHash-LSH candidate pairs — the
    * character-level analogue of the shingle-Jaccard verify stage:
    * candidates come from the same banded buckets (no all-pairs join at
    * any scale) and each pair is scored with the exact Levenshtein
    * distance normalised to ppm of the longer text,
    *   ed_ppm = (lev · 10⁶) DIV max(len_a, len_b, 1),
    * a pure-integer ratio identical in any engine and any partitioning.
    * `is_dup` marks pairs at or below `maxEdPpm` (default 20 % edits).
    * Catches shingle-order rewrites that Jaccard scores as identical.
    *
    * 100 TB shape: identical to the Jaccard verify — banding bounds the
    * candidate volume (`maxBucket` cap), texts reach the O(#candidates)
    * pair list through id equi-joins with the small side broadcast, and
    * the per-pair O(len²) DP is partition-local compute with no extra
    * shuffle. Char≡byte exactness holds on ASCII corpora (Spark counts
    * codepoints, DuckDB bytes); the synthetic corpus is pure ASCII.
    */
  def editVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                        maxEdPpm: Long = 200000L,
                        candOpt: Option[DataFrame] = None): DataFrame = {
    val txts = docs.select(col(idCol).as("id"), col(textCol).as("txt"))
    // callers already holding the LSH candidate frame (the cross-query
    // memo) pass it in instead of re-hashing + re-banding the corpus
    val cand = candOpt.getOrElse(minhashCandidatesFromHashes(
        docs.select(col(idCol).as("id"),
          distinctShingleHashes(col(textCol)).as("hs"))))
      .select("id_a", "id_b")
    val withA = txts.select(col("id").as("id_a"), col("txt").as("txt_a"))
      .join(broadcast(cand), Seq("id_a"))
    txts.select(col("id").as("id_b"), col("txt").as("txt_b"))
      .join(broadcast(withA), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("txt_a"), col("txt_b")).cast("long").as("lev"),
        greatest(length(col("txt_a")), length(col("txt_b")), lit(1))
          .cast("long").as("mlen"))
      .withColumn("ed_ppm", expr("(lev * 1000000L) DIV mlen"))
      .withColumn("is_dup",
        when(col("ed_ppm") <= maxEdPpm, 1L).otherwise(0L))
      .select("id_a", "id_b", "lev", "ed_ppm", "is_dup")
  }

  // ---- SimHash -----------------------------------------------------------

  /** Number of SimHash bits: 63, so the value stays a positive BIGINT and
    * the md5-derived token hash ([[md5h63]]) covers every bit.
    */
  val SimhashBits = 63

  /** SimHash from a pre-materialised token-hash array column: bit i of
    * the result is 1 iff the sum over tokens of ±1 (per token-hash bit
    * i) is positive. A native Catalyst expression
    * (graft.functions.SimHash63): one codegen'd pass
    * with a primitive vote accumulator — the HOF form it replaces
    * ([[simhashFromHashesHof]]) is 63 interpreted `aggregate` folds.
    * Bit-identical on non-null input (DedupSpec); null token arrays
    * (which no query produces) yield null instead of the HOF's
    * null-as-false 0.
    */
  def simhashFromHashes(hs: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.SimHash63(
        org.apache.spark.sql.GraftColumnBridge.expression(hs), SimhashBits))

  /** The higher-order-function formulation of [[simhashFromHashes]] —
    * kept as the spec's equivalence oracle.
    */
  private[graft] def simhashFromHashesHof(hs: Column): Column = {
    val bitCols = (0 until SimhashBits).map { i =>
      val votes = aggregate(hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L))
      when(votes > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash near-duplicate pairs at scale: band the 63-bit simhash into
    * `bands` 16-bit chunks (pigeonhole — any pair within Hamming distance
    * maxHam < bands shares at least one exact chunk), bucket equi-join per
    * band, then exact Hamming verify via bit_count(xor). The same
    * explode→groupBy→pair-expand shape as [[minhashCandidatesFromHashes]]: no
    * all-pairs join ever forms, oversized buckets are capped.
    * Returns (id_a, id_b, hamming) with a < b, hamming ≤ maxHam.
    */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHam: Int = 3, bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    require(bands > maxHam, s"need bands > maxHam for full recall at " +
      s"distance $maxHam (pigeonhole); got bands=$bands")
    // stage the token-hash array in its own projection FIRST (the q33
    // shape): referencing `hs` inline makes each of the 63 bit-vote
    // aggregates recompute the md5 hash of every token (measured: 25 s
    // vs 0.2 s for q33 at sf0.1 — ~10⁸ md5 calls), then materialize
    // (id, sh) so the banding projection's five references to `sh`
    // (4 band keys + the carried column) read a column, not the tree
    val sh = docs
      .select(col(idCol).as("id"), tokenHashes63(col(textCol)).as("hs"))
      .select(col("id"), simhashFromHashes(col("hs")).as("sh"))
    hammingPairs(sh, maxHam, bands, maxBucket)
  }

  /** Banded Hamming-pair extraction over ANY (id, sh) 63-bit hash frame
    * — shared by [[simhashPairs]] (text) and the media perceptual-hash
    * near-dup ([[graft.media.Media.phashPairs]]). Full recall at
    * distance `maxHam` is the CALLER's contract: either bands > maxHam
    * (pigeonhole) or a construction that confines differing bits to
    * fewer than `bands` chunks. Same explode→groupBy→pair-expand shape
    * as [[minhashCandidatesFromHashes]]: no all-pairs join, oversized buckets
    * capped. Returns (id_a, id_b, hamming) with a < b, hamming ≤ maxHam.
    */
  def hammingPairs(
      hashed: DataFrame, maxHam: Int, bands: Int,
      maxBucket: Int): DataFrame = {
    require(bands >= 1 && bands <= 4,
      s"16-bit bands over a 63-bit hash: 1..4; got $bands")
    val keyCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
    }
    val buckets = hashed
      .select(col("id"), col("sh"), explode(array(keyCols: _*)).as("bk"))
      .select(col("id"), col("sh"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    buckets
      .groupBy("band", "key")
      .agg(sort_array(collect_list(struct(col("id"), col("sh")))).as("ms"))
      .filter(size(col("ms")).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(ms, (x, i) ->
          |  transform(slice(ms, i + 2, size(ms)),
          |    y -> struct(x.id AS a, x.sh AS sa, y.id AS b, y.sh AS sb))))"""
          .stripMargin.replace("\n", " "))).as("p"))
      // a pair sharing several band keys appears once per shared band
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"),
        bit_count(col("p.sa").bitwiseXOR(col("p.sb"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
  }

  /** Distinct shingle-hash set — stage ONCE per doc and reuse for both
    * LSH banding and exact verification. Re-hashing raw text per
    * candidate pair costs (|pairs|·2/|docs|)× the whole corpus's hash
    * work: measured 48 s of a 140 s 500k-doc pipeline before this
    * staging existed (BENCH.md round 4). A fused native expression
    * (graft.functions.ShingleHashes): the HOF form
    * ([[shingleHashesHof]]) is five nested interpreted higher-order
    * functions allocating a shingle string per window; the native one
    * tokenizes the UTF-8 bytes once and streams each window into the
    * digest. Bit-identical (TextHashExprsSpec), oracles unchanged.
    */
  def distinctShingleHashes(text: Column, w: Int = 3): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.ShingleHashes(
        org.apache.spark.sql.GraftColumnBridge.expression(text), w,
        distinct = true))

  /** Exact Jaccard from two pre-staged distinct hash sets. */
  def jaccardByHashSets(ha: Column, hb: Column): Column = {
    val inter = size(array_intersect(ha, hb)).cast("double")
    inter / (size(ha) + size(hb) - inter)
  }

  // ---- Embedding cosine ---------------------------------------------------

  /** Dot product of two float arrays in double precision (sequential
    * left-to-right accumulation — the order the SQL oracle uses too).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity — a native one-pass expression
    * (graft.functions.CosineSimF). The HOF form ([[cosineHof]]) walked
    * three interpreted zip_with+aggregate trees per PAIR — the hot
    * expression of the ANN candidate-verify joins. Bit-identical
    * (VectorExprsSpec): same left-to-right double accumulation, null
    * poisoning, and null-on-zero-norm as the fold + Spark Divide.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.CosineSimF(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** HOF formulation of [[cosine]] — the spec's equivalence oracle. */
  private[graft] def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cosine top-k per query vector. Routes by reference-set size:
    * at or below `bcastMaxRows` the exact broadcast scan runs (bounded
    * driver memory — the same contract as a broadcast join); above it,
    * the bucketed sign-LSH ANN path ([[annCosineTopK]]) takes over, so
    * no unbounded `collect()` exists on any input size.
    */
  def cosineTopK(
      embeddings: DataFrame, idCol: String, vecCol: String, k: Int,
      bcastMaxRows: Long = 2000000L): DataFrame =
    if (graft.runtime.Gate("cosine-broadcast", bcastMaxRows).admits(embeddings.select(idCol)))
      bruteForceCosineTopK(embeddings, idCol, vecCol, k)
    else
      annCosineTopK(embeddings, idCol, vecCol, k)

  /** Exact brute-force cosine top-k (the correctness baseline). Self-pairs
    * excluded. Only called under [[cosineTopK]]'s explicit size gate.
    *
    * Shape: the reference set is broadcast (vectors are tiny — n·d
    * floats) and each partition of queries scans it with primitive
    * double math — a broadcast NN join, ~1000× faster than evaluating a
    * Catalyst `aggregate` lambda per pair. Queries stay distributed, so
    * this scales in the query dimension; a reference set too big to
    * broadcast is exactly when the LSH variant takes over.
    */
  def bruteForceCosineTopK(
      embeddings: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs0 = embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
    // the query scan inherits the input's file splits — a small-file
    // embeddings table runs the whole O(n²·d) scan in one task (measured
    // 2.6 s single-task at sf0.1). Spread queries over the cluster when
    // the scan is under-parallel; deterministic (hash on id).
    val want = spark.sparkContext.defaultParallelism
    val vecs =
      if (vecs0.rdd.getNumPartitions < want)
        vecs0.repartition(want, col("id")).as[(Long, Array[Float])]
      else vecs0
    val ref = spark.sparkContext.broadcast(
      vecs.collect().sortBy(_._1).map { case (i, v) => (i, v) })
    vecs.mapPartitions { it =>
      val refs = ref.value
      def dot(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
        s
      }
      it.flatMap { case (qid, qv) =>
        val q = qv
        val qn = math.sqrt(dot(q, q))
        val top = refs.iterator
          .filter(_._1 != qid)
          .map { case (nid, nv) =>
            (nid, dot(q, nv) / (qn * math.sqrt(dot(nv, nv))))
          }
          .toSeq
          // sim desc, nid asc — identical tie-break to the SQL oracle
          .sortBy { case (nid, sim) => (-sim, nid) }
          .take(k)
        top.zipWithIndex.map { case ((nid, sim), i) => (qid, nid, sim, i + 1) }
      }
    }.toDF("qid", "nid", "sim", "rank")
  }

  /** Margin-based neighbour mining (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings" — the
    * CCMatrix/LASER bitext-mining scorer): a candidate pair survives when
    * its cosine stands out against BOTH endpoints' neighbourhood density,
    *   margin(x, y) = cos(x, y) / ((avgTopK(x) + avgTopK(y)) / 2),
    * which kills hub vectors that score high against everything.
    *
    * Operates on ANY `(qid, nid, sim, rank)` top-k frame — the shared
    * output schema of [[bruteForceCosineTopK]], [[annCosineTopK]] and
    * [[ivfCosineTopK]] — so the exact brute-force path and both ANN scale
    * paths feed the same composition unchanged.
    *
    * Exactness: sims are integerised to e6 PER ROW before any
    * aggregation, and the margin is computed entirely in BIGINT —
    *   margin_ppm = (2·sim_e6·ka·kb·10⁶) DIV (sa·kb + sb·ka)
    * (ka/sa = neighbour count / e6-sim sum at the query end; kb/sb at the
    * neighbour end) — so the result is independent of summation order,
    * partitioning and engine; a float mean would not be. Rows with a
    * non-positive denominator (all-negative neighbourhoods) are dropped
    * in both engines before dividing.
    *
    * 100 TB shape: the top-k frame is k·N narrow rows and `sums` is N
    * rows — both joins are plain equi-joins on the id, no all-pairs
    * anywhere; the quadratic part lives in the top-k search, which is
    * exactly what the ANN paths bound. The frame is checkpointed once
    * because it feeds the pair rows AND both endpoint sums.
    */
  def marginMine(topk: DataFrame, minMarginPpm: Long = 1000000L): DataFrame = {
    val t = topk
      .select(col("qid"), col("nid"),
        expr("CAST(FLOOR(sim * 1000000 + 0.5) AS BIGINT)").as("sim_e6"))
      .localCheckpoint(true)
    val sums = t.groupBy("qid")
      .agg(sum("sim_e6").as("s_e6"), count(lit(1)).as("kn"))
    t.join(sums.select(col("qid"), col("s_e6").as("sa"), col("kn").as("ka")),
        Seq("qid"))
      .join(sums.select(col("qid").as("nid"), col("s_e6").as("sb"),
        col("kn").as("kb")), Seq("nid"))
      .withColumn("den", col("sa") * col("kb") + col("sb") * col("ka"))
      .where(col("den") > 0L)
      .withColumn("margin_ppm",
        expr("(2 * sim_e6 * ka * kb * 1000000L) DIV den"))
      .where(col("margin_ppm") >= minMarginPpm)
      .select("qid", "nid", "sim_e6", "margin_ppm")
  }

  // ---- Sign-LSH approximate nearest neighbours -----------------------------

  /** Deterministic pseudo-random hyperplane component h(j, i) ∈ (-1, 1) for
    * LSH bit j, vector dimension i — pure integer arithmetic, bit-identical
    * in Spark and DuckDB (no RNG, no engine-specific hash).
    */
  def hyperplaneComponent(j: Column, i: Column): Column =
    ((j * lit(2654435761L) + i.cast("long") * lit(40503L)) % lit(1000003L))
      .cast("double") / lit(1000003.0) * lit(2.0) - lit(1.0)

  def hyperplaneComponentSql(j: String, i: String): String =
    s"((((($j) * 2654435761 + ($i) * 40503) % 1000003) / 1000003.0) * 2.0 - 1.0)"

  /** Sign-LSH bucket id over `bits` deterministic hyperplanes: bit j is 1
    * iff dot(v, h_j) > 0. Bucket count = 2^bits. One native pass
    * (graft.functions.SignLshBucket) accumulating every bit's dot — the
    * HOF form ([[lshBucketHof]]) was `bits` interpreted
    * zip_with+aggregate walks per vector. Bit-identical
    * (VectorExprsSpec); the DuckDB oracle replays the same hyperplane
    * math.
    */
  def lshBucket(vec: Column, bits: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.SignLshBucket(
        org.apache.spark.sql.GraftColumnBridge.expression(vec), bits))

  /** HOF formulation of [[lshBucket]] — the spec's equivalence oracle. */
  private[graft] def lshBucketHof(vec: Column, bits: Int): Column = {
    val bitCols = (0 until bits).map { j =>
      val dotj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * hyperplaneComponent(lit(j.toLong), i)),
        lit(0.0), (acc, v) => acc + v)
      when(dotj > 0.0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  // ---- IVF approximate nearest neighbours ----------------------------------

  /** IVF (inverted-file) approximate cosine top-k — the second ANN scale
    * path beside [[annCosineTopK]]: a coarse quantizer of `nlist`
    * centroids partitions the vectors into inverted lists; each query
    * probes only its `nprobe` closest lists. Candidate volume per query
    * ≈ nprobe·n/nlist and every join is a list-id equi-join — no
    * all-pairs, no unbounded collect (the driver holds nlist·dim
    * doubles, the same contract as a broadcast join).
    *
    * Fully deterministic and engine-portable (DuckDB-oracled):
    *  - seeds = the `nlist` vectors with the LOWEST ids (no RNG);
    *  - ONE Lloyd step: vectors are assigned to their max-cosine seed
    *    (ties → lowest list id), then each centroid is the per-component
    *    mean computed over components quantized to integers at 2^20 —
    *    integer sums are order-independent, so the centroid is EXACTLY
    *    `sum(floor(x·2^20+0.5)) / (n·2^20)` in both engines regardless
    *    of partitioning;
    *  - final assignment + probe ranking use max-cosine with the same
    *    tie-break.
    *
    * Assignment/probing run as broadcast primitive-loop scans
    * (`mapPartitions`), not per-pair Catalyst lambdas — the q31 lesson
    * (562 s → 3.1 s). The one Lloyd shuffle is map-side combined:
    * posexplode → partial sums, shuffle volume = #partitions·nlist·dim.
    *
    * @return (qid, nid, sim, rank) — exact cosine over probed candidates
    */
  def ivfCosineTopK(
      embeddings: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 2, maxList: Long = 10000000L): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]

    def dotDD(a: Array[Double], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i).toDouble; i += 1 }
      s
    }
    def norm(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      math.sqrt(s)
    }
    def normF(a: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    // per-row ranked lists by (cosine desc, list id asc) — a bounded
    // insertion selection over centroids pre-paired with their norms
    // (scanned in ascending c, so exact-sim ties keep the lower c: the
    // oracle's ROW_NUMBER order). No per-row sort, no boxing.
    def rankLists(v: Array[Float], cents: Array[(Int, Array[Double], Double)],
        take: Int): Array[Int] = {
      val vn = normF(v)
      val m = math.min(take, cents.length)
      val bestC = new Array[Int](m)
      val bestS = new Array[Double](m)
      var filled = 0
      var ci = 0
      while (ci < cents.length) {
        val (c, cv, cn) = cents(ci)
        val sim = dotDD(cv, v) / (cn * vn)
        var pos = filled
        while (pos > 0 && bestS(pos - 1) < sim) pos -= 1
        if (pos < m) {
          var j = math.min(filled, m - 1)
          while (j > pos) { bestS(j) = bestS(j - 1); bestC(j) = bestC(j - 1); j -= 1 }
          bestS(pos) = sim; bestC(pos) = c
          if (filled < m) filled += 1
        }
        ci += 1
      }
      if (filled == m) bestC else bestC.take(filled)
    }
    def withNorms(cents: Array[(Int, Array[Double])]) =
      cents.map { case (c, cv) => (c, cv, norm(cv)) }
    def assign(cents: Array[(Int, Array[Double], Double)]) = {
      val bc = spark.sparkContext.broadcast(cents)
      vecs.mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v) => (id, rankLists(v, cs, 1)(0), v) }
      }
    }

    // 1. deterministic seeds: the nlist lowest-id vectors
    val seeds: Array[(Int, Array[Double])] = vecs
      .orderBy(col("id")).limit(nlist).collect()
      .sortBy(_._1).zipWithIndex
      .map { case ((_, v), c) => (c, v.map(_.toDouble).toArray) }
    if (seeds.isEmpty)
      return spark.emptyDataset[(Long, Long, Double, Int)]
        .toDF("qid", "nid", "sim", "rank")

    // 2. one Lloyd step on 2^20-quantized components (exact integer sums)
    val a1 = assign(withNorms(seeds)).toDF("id", "c", "v")
    val centroids: Array[(Int, Array[Double])] = a1
      .select(col("c"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("c"), col("pos"),
        floor(col("x").cast("double") * 1048576.0 + 0.5).as("q"))
      .groupBy("c", "pos")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      .select(col("c"), col("pos"),
        (col("s") / (col("n") * lit(1048576.0))).as("m"))
      .as[(Int, Int, Double)].collect()
      .groupBy(_._1).toArray
      .map { case (c, rows) => (c, rows.sortBy(_._2).map(_._3)) }
      .sortBy(_._1)

    // 3+4. inverted lists AND probes from ONE centroid-ranking pass:
    //    rankLists is the expensive step (n·nlist·dim multiply-adds) and
    //    its rank-1 entry IS the final-assignment list (same argmax, same
    //    ascending-c tie-break as take=1), so membership and the nprobe
    //    probe lists come from a single checkpointed scan instead of two.
    val centsN = withNorms(centroids)
    val bcCents = spark.sparkContext.broadcast(centsN)
    val np = math.max(1, nprobe)
    val ranked = vecs.mapPartitions { it =>
      val cs = bcCents.value
      it.map { case (id, v) => (id, v, rankLists(v, cs, np)) }
    }.toDF("id", "v", "lists").localCheckpoint(true)
      .as[(Long, Array[Float], Array[Int])]
    val members = ranked.map { case (id, v, ls) => (id, ls.head, v) }
    val probes = ranked.flatMap { case (id, v, ls) =>
      ls.iterator.map(c => (id, c, v))
    }
    // 5. per-list batch scan (cogroup on the list id): one task holds ONE
    //    inverted list's vectors (≈ n/nlist — loudly guarded) and streams
    //    the probes through it, emitting only each probe's per-list top-k.
    //    No candidate-PAIR row ever materializes — the q31 broadcast-scan
    //    lesson applied to the probe join; shuffle volume is
    //    n + n·nprobe in, n·nprobe·k out. The global top-k per query is
    //    exact: it is the merge of its nprobe per-list top-ks.
    val partial = members.groupByKey(_._2).cogroup(probes.groupByKey(_._2)) {
      (c, ms, ps) =>
        val mem = ms.map { case (id, _, v) => (id, v) }.toArray
        if (mem.length > maxList)
          throw new IllegalStateException(
            s"IVF list $c holds ${mem.length} vectors (> $maxList) — one " +
              "scan task cannot hold it; raise nlist (finer quantizer), " +
              "or maxList with more executor memory")
        val norms = mem.map { case (_, nv) => normF(nv) }
        ps.flatMap { case (qid, _, qv) =>
          val q = qv
          val qn = normF(q)
          val cand = new Array[(Long, Double)](mem.length)
          var n = 0
          var i = 0
          while (i < mem.length) {
            val (nid, nv) = mem(i)
            if (nid != qid) {
              var s = 0.0; var j = 0
              while (j < q.length) { s += q(j).toDouble * nv(j).toDouble; j += 1 }
              cand(n) = (nid, s / (qn * norms(i))); n += 1
            }
            i += 1
          }
          cand.take(n).sortBy { case (nid, sim) => (-sim, nid) }.take(k)
            .iterator.map { case (nid, sim) => (qid, nid, sim) }
        }
    }.toDF("qid", "nid", "sim")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    partial
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "sim", "rank")
  }

  /** Approximate cosine top-k via sign-LSH buckets — the 100 TB path:
    * every vector lands in ONE bucket; each query multi-probes its own
    * bucket plus the `bits` buckets at Hamming distance 1, so candidate
    * volume per query ≈ (bits+1)·n/2^bits and all joins are bucket
    * equi-joins (no all-pairs, no driver collect). Oversized buckets
    * (skew) are dropped from the REFERENCE side with a loud log —
    * recall loss is logged, never silent.
    */
  def annCosineTopK(
      embeddings: DataFrame, idCol: String, vecCol: String, k: Int,
      bits: Int = 8, maxBucket: Long = 100000L): DataFrame = {
    val vecs = embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("bucket", lshBucket(col("v"), bits))
      .localCheckpoint(true)
    val sizes = vecs.groupBy("bucket").count()
    val dropped = sizes.filter(col("count") > maxBucket)
    val nDropped = dropped.count()
    if (nDropped > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"annCosineTopK: dropping $nDropped oversized LSH buckets (> $maxBucket rows) from the reference side")
    val refs = vecs.join(
      sizes.filter(col("count") <= maxBucket).select("bucket"), Seq("bucket"))
      .select(col("bucket"), col("id").as("nid"), col("v").as("nv"))
    val probes = vecs.select(col("id").as("qid"), col("v").as("qv"),
      explode(array((col("bucket") +: (0 until bits).map(j =>
        col("bucket").bitwiseXOR(lit(1L << j)))): _*)).as("bucket"))
    val scored = probes.join(refs, Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "sim", "rank")
  }

  /** Embedding-cosine near-duplicate PAIR extraction — the dedup member
    * of the embedding family (q31/q50/q56 are top-k *search*; this emits
    * the near-dup *pairs* a dedup pipeline would collapse). Candidates
    * come from the q50 sign-LSH shape — every vector lands in one
    * bucket, probes its own bucket plus the `bits` Hamming-1 buckets, so
    * candidate volume ≈ (bits+1)·n/2^bits and every join is a bucket
    * equi-join (no all-pairs at any scale) — then exact cosine verifies
    * each pair at `tauE6` (e6-quantized, engine-portable).
    *
    * Each unordered pair appears exactly once without a distinct: the
    * `id_a < id_b` filter keeps one orientation, and a candidate pair
    * shares either its own bucket (caught only by the self-probe) or a
    * Hamming-1 bucket pair (caught by exactly one probe bit).
    * Oversized buckets are dropped from the reference side with a loud
    * log, as in [[annCosineTopK]] — recall loss is logged, never silent.
    */
  /** Near-duplicate cluster collapse — the final stage of a dedup
    * pipeline: verified near-dup pairs (from any of the pair extractors:
    * MinHash→Jaccard, SimHash, embedding cosine) become an undirected
    * graph, transitively closed with the shuffle CC operator, and each
    * cluster keeps one survivor. The large/small-star CC converges to
    * min-id-rooted stars, so the component label IS the min-id survivor
    * — no extra aggregation pass. Docs in no pair are their own
    * singleton cluster. At 100 TB the pair graph is sparse (clusters
    * are small), so CC rounds stay logarithmic in the largest cluster's
    * diameter and every shuffle is keyed on doc id.
    */
  def nearDupCollapse(pairs: DataFrame, ids: DataFrame, idCol: String): DataFrame = {
    val edges = pairs.select(
      col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
    val nodes = ids.select(col(idCol).cast("long").as("nid"))
    val labels = graft.graph.ConnectedComponents.labelsWithSingletons(edges, nodes)
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("comp"))
      .select(col("nid").as(idCol), col("comp").as("survivor"),
        col("cluster_size"),
        when(col("nid") === col("comp"), 1L).otherwise(0L).as("is_survivor"))
  }

  /** Mirror-domain detection: domains connected by VERIFIED cross-domain
    * near-duplicate documents collapse into mirror clusters (the
    * mirror-farm / syndication signal a crawl curator uses to down-weight
    * whole hosts, not just individual dup docs). Domain node ids are
    * `md5h63(domain)` — deterministic, engine-portable, 63-bit (collision
    * probability negligible and identical in the oracle, which replays
    * the same hash). Cluster id = component min node id; `n_dup_links` =
    * how many verified cross-domain dup pairs touch the domain (evidence
    * strength); `is_canonical` marks the cluster's min-id domain.
    *
    * 100 TB shape: the doc→domain joins are id equi-joins; the domain
    * edge set collapses through a (src, dst)-keyed groupBy to
    * O(#domain-pairs-with-shared-content) rows before entering the
    * shuffle CC operator, whose iteration state is domain-sized, not
    * corpus-sized.
    */
  def mirrorDomains(docs: DataFrame, dupPairs: DataFrame,
                    idCol: String, domainCol: String): DataFrame = {
    val dd = docs.select(col(idCol).as("id"), col(domainCol).as("dom"),
      md5h63(col(domainCol)).as("nid"))
      .localCheckpoint(true) // feeds both edge sides and the domain set
    val e = dupPairs
      .join(dd.select(col("id").as("id_a"), col("nid").as("na")), Seq("id_a"))
      .join(dd.select(col("id").as("id_b"), col("nid").as("nb")), Seq("id_b"))
      .where(col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("src"),
        greatest(col("na"), col("nb")).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n_shared"))
      .localCheckpoint(true) // feeds the CC loop and the evidence agg
    val doms = dd.select(col("dom"), col("nid")).distinct()
    val labels = graft.graph.ConnectedComponents.labelsWithSingletons(
      e.select("src", "dst"), doms.select(col("nid")))
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("n_domains"))
    val evid = e
      .select(explode(array(col("src"), col("dst"))).as("nid"),
        col("n_shared"))
      .groupBy("nid").agg(sum("n_shared").as("n_dup_links"))
    doms.join(labels, Seq("nid"))
      .join(sizes, Seq("comp"))
      .join(evid, Seq("nid"), "left")
      .select(col("dom").as(domainCol), col("comp").as("cluster"),
        col("n_domains"),
        coalesce(col("n_dup_links"), lit(0L)).as("n_dup_links"),
        when(col("nid") === col("comp"), 1L).otherwise(0L)
          .as("is_canonical"))
  }

  /** Non-overlapping `w`-token passages of the token stream:
    * (idCol, pos, pass, ntok). The distributable granularity for
    * exact-substring dedup (Lee et al. 2022 run suffix arrays single-node;
    * at 100 TB the practical shape is fixed-window passage hashing — one
    * explode, then every downstream op keys on the passage hash).
    * Empty-token docs produce no rows (posexplode of an empty array),
    * matching the SQL oracle's `unnest(range(0))`.
    */
  def passages(docs: DataFrame, idCol: String, textCol: String, w: Int = 10): DataFrame = {
    val tk = col("tk")
    docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("tk"))
      .select(col(idCol), posexplode(
        // sequence(0, -1) is DESCENDING in Spark, so guard empty docs
        when(size(tk) === 0, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0),
              floor((size(tk) + lit(w - 1)) / lit(w)).cast("int") - 1),
            i => concat_ws(" ", slice(tk, i * w + 1, lit(w)))))))
      .select(col(idCol), col("pos"),
        col("col").as("pass"), size(TextOps.tokens(col("col"))).as("ntok"))
  }

  /** Passage-level exact dedup, per-doc stats: a passage is a duplicate
    * when its text occurs at more than one (doc, pos) corpus-wide; the
    * global first occurrence (min (doc, pos)) is the keeper. Returns
    * (idCol, n_pass, n_dup_pass, n_kept, kept_tokens).
    *
    * Scale shape: groupBy on md5(pass) (map-side combinable partial
    * aggregation — a window over the passage key would shuffle every
    * passage row AND serialize a hyper-frequent boilerplate passage into
    * one task), then an equi-join back on the same key (AQE skew-join
    * splits the boilerplate key).
    */
  def passageDedup(
      docs: DataFrame, idCol: String, textCol: String, w: Int = 10): DataFrame = {
    val p = passages(docs, idCol, textCol, w)
      .withColumn("m", md5(col("pass")))
    val firsts = p.groupBy("m").agg(
      min(struct(col(idCol), col("pos"))).as("first"),
      count(lit(1)).as("freq"))
    p.join(firsts, Seq("m"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_pass"),
        sum(when(col("freq") > 1, 1L).otherwise(0L)).as("n_dup_pass"),
        sum(when(col("first") === struct(col(idCol), col("pos")), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("first") === struct(col(idCol), col("pos")),
          col("ntok").cast("long")).otherwise(0L)).as("kept_tokens"))
  }

  /** Benchmark decontamination — the GPT-3/Gopher-style train-test
    * overlap filter: flag every training doc sharing at least one
    * distinct word w-gram (default 13-gram) with the benchmark corpus.
    *
    * Scale shape: the benchmark side is SMALL by definition (benchmark
    * suites are 10^5-10^6 items against 10^12 training rows), so its
    * distinct shingle-hash set is broadcast; the training side stages its
    * distinct hash set once per doc ([[distinctShingleHashes]], the same
    * native pass the LSH pipeline uses) and the hit count is a map-side
    * hash-join + per-doc partial count — the only shuffle over the corpus
    * is the final doc-keyed count merge.
    */
  def benchmarkContamination(
      docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, w: Int = 13): DataFrame = {
    val bh = bench
      .select(explode(distinctShingleHashes(col(textCol), w)).as("h"))
      .distinct()
    val hits = docs
      .select(col(idCol), explode(distinctShingleHashes(col(textCol), w)).as("h"))
      .join(broadcast(bh), Seq("h"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("hit_n"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("hit_n"), lit(0L)).as("n_hits"),
        (coalesce(col("hit_n"), lit(0L)) > 0).cast("long").as("contaminated"))
  }

  /** Overlapping duplicate-span detection — the stride-1 complement of
    * [[passageDedup]]'s non-overlapping windows: a span is every
    * `w`-token window of the doc (distinct per doc), and a span is a
    * duplicate when it occurs in more than one document. Catches
    * boilerplate shared at ANY alignment, which fixed passages miss when
    * the copy is offset by a non-multiple of `w`. Returns per-doc
    * (idCol, n_spans, n_dup_spans, max_span_docs).
    *
    * Scale shape: one explode of the per-doc distinct window-hash set
    * (the same native [[distinctShingleHashes]] pass the LSH and
    * decontamination pipelines stage), a hash-keyed count (map-side
    * combinable; per-doc-distinct input makes count(*) = doc frequency),
    * then an equi-join back on the hash and a doc-keyed re-aggregation.
    * The exploded frame is recomputed on the join's probe side rather
    * than checkpointed — it is a narrow codegen'd map over the scan,
    * cheaper at 100 TB than materializing |docs|·|windows| rows.
    */
  def duplicateSpans(
      docs: DataFrame, idCol: String, textCol: String, w: Int = 10): DataFrame = {
    val h = docs.select(
      col(idCol), explode(distinctShingleHashes(col(textCol), w)).as("h"))
    val freq = h.groupBy("h").agg(count(lit(1)).as("nd"))
    h.join(freq, Seq("h"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_spans"),
        max(col("nd")).as("max_span_docs"))
  }

  def embedNearDupPairs(
      embeddings: DataFrame, idCol: String, vecCol: String,
      tauE6: Long = 990000L, bits: Int = 8, maxBucket: Long = 100000L): DataFrame = {
    val vecs = embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("bucket", lshBucket(col("v"), bits))
      .localCheckpoint(true)
    val sizes = vecs.groupBy("bucket").count()
    val dropped = sizes.filter(col("count") > maxBucket).count()
    if (dropped > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"embedNearDupPairs: dropping $dropped oversized LSH buckets (> $maxBucket rows) from the reference side")
    val refs = vecs.join(
      sizes.filter(col("count") <= maxBucket).select("bucket"), Seq("bucket"))
      .select(col("bucket"), col("id").as("id_b"), col("v").as("nv"))
    val probes = vecs.select(col("id").as("id_a"), col("v").as("qv"),
      explode(array((col("bucket") +: (0 until bits).map(j =>
        col("bucket").bitwiseXOR(lit(1L << j)))): _*)).as("bucket"))
    probes.join(refs, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim_e6",
        floor(cosine(col("qv"), col("nv")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .filter(col("sim_e6") >= tauE6)
      .select("id_a", "id_b", "sim_e6")
  }

  /** Spec-visible mirror of the codegen'd assignment worker
    * ([[graft.functions.QuantArgMin]]): integer-L2 argmin, ties → lowest
    * index, length mismatch or null element → -1.
    */
  private[graft] def quantArgMin(v: Array[Long], cs: Array[Array[Long]]): Int =
    graft.functions.QuantArgMin.assign(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(v), cs).toInt

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means clusters the embedding space, then near-duplicates are
    * resolved INSIDE each cluster — pairwise cosine at `tauE6` → CC →
    * min-id survivor — so the pair search is cluster-local instead of
    * corpus-global. Cluster locality is also the method's documented
    * recall tradeoff: a near-dup pair straddling a cluster boundary is
    * not found (q73 at sf0.01: 492/500 planted pairs collapse, 8 straddle
    * — zero false merges).
    *
    * Portability: the k-means runs ENTIRELY in exact integer arithmetic —
    * vectors quantized to floor(x·2^20 + 0.5) + 2^20 (the offset keeps
    * values nonnegative so truncating division == floor division in both
    * engines), L2 distances and centroid sums are order-independent Long
    * math, seeds are the k lowest (md5h32(id), id) vectors, ties in the
    * argmin go to the lowest centroid index, and an empty cluster keeps
    * its previous centroid. The assignment is therefore bit-identical
    * across engines and parallelism, and the DuckDB oracle can replay
    * every Lloyd step. Only the final pair cosine uses floats — e6-floored
    * like q63 (proven portable by the green q50/q56/q63 oracles).
    *
    * 100 TB shape: centroids are O(k·dim) driver/broadcast state (the
    * MLlib k-means shape — assignment is one broadcast + narrow scan per
    * iteration, the update one map-combinable groupBy on (cluster, pos));
    * the within-cluster self-join is the SemDeDup design point — pair
    * volume is Σ |cluster|²/2, bounded by choosing k ∝ corpus size, and
    * clusters above `maxCluster` are excluded from pairing (loud warn,
    * rows kept) rather than detonating a quadratic join.
    */
  def semanticDedup(
      embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2, tauE6: Long = 990000L,
      maxCluster: Long = 100000L): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v")) // float→double is exact
      .withColumn("qv", transform(col("v"), x =>
        floor(x * lit(1048576.0) + lit(0.5)).cast("long") + lit(1048576L)))
      .localCheckpoint(true)

    // deterministic seeds: the k lowest (md5-key, id) quantized vectors
    var cents: Array[Array[Long]] = vecs
      .orderBy(md5h32(col("id").cast("string")), col("id"))
      .limit(k).select("qv").as[Array[Long]].collect()
    if (cents.isEmpty)
      return spark.emptyDataset[(Long, Long, Long, Long, Long)]
        .toDF(idCol, "cluster", "survivor", "comp_size", "is_survivor")

    // assignment is ONE codegen'd column expression — no typed
    // encode/decode (a mapPartitions closure spent the clustering stage
    // deserializing rows to object arrays; see QuantArgMin scaladoc),
    // centroids ride as an O(k·dim) plan reference object
    def assigned(cs: Array[Array[Long]]): DataFrame =
      vecs.withColumn("cluster",
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.QuantArgMin(
            org.apache.spark.sql.GraftColumnBridge.expression(col("qv")),
            cs)))

    for (_ <- 1 to iters) {
      // exact integer centroid update: O(k·dim) rows to the driver
      val stats = assigned(cents)
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .as[(Long, Int, Long, Long)].collect()
        .groupBy(_._1)
      cents = cents.indices.map { j =>
        stats.get(j.toLong) match {
          case Some(rows) => rows.sortBy(_._2).map(r => r._3 / r._4).toArray
          case None       => cents(j) // empty cluster keeps its centroid
        }
      }.toArray
    }

    val fin = assigned(cents).select("id", "cluster", "v").localCheckpoint(true)
    val sizes = fin.groupBy("cluster").count()
    val oversized = sizes.filter(col("count") > maxCluster).count()
    if (oversized > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"semanticDedup: $oversized clusters exceed $maxCluster rows — " +
          "excluded from pairing (rows kept as their own survivors)")
    val paired = fin.join(
      sizes.filter(col("count") <= maxCluster).select("cluster"), Seq("cluster"))
    val pairs = paired.select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
      .join(paired.select(col("cluster"), col("id").as("id_b"), col("v").as("vb")),
        Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim_e6",
        floor(cosine(col("va"), col("vb")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .filter(col("sim_e6") >= tauE6)
      .select("id_a", "id_b")

    fin.select(col("id"), col("cluster"))
      .join(nearDupCollapse(pairs, fin.select(col("id")), "id"), Seq("id"))
      .select(col("id").as(idCol), col("cluster"),
        col("survivor"), col("cluster_size").as("comp_size"),
        col("is_survivor"))
  }
}
