package graft.media

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column operators (builder brief): image/audio/video travel
  * as opaque `binary` columns with TYPED metadata; decode and feature
  * extraction run as per-partition BATCHED functions — the Scala
  * analog of PySpark's `mapInPandas` Pandas-UDF batches is
  * `mapPartitions` over a columnar-friendly row schema (Tungsten rows in,
  * one iterator per partition, no per-row lambda dispatch).
  *
  * The image codec is REAL: images travel as binary PPM (P6) files —
  * ASCII header + raw 8-bit RGB raster — and [[Codec.decodePpm]] is a
  * complete pure-Scala parser (magic, `#` comments, arbitrary header
  * whitespace, maxval validation, exact raster-length check). PPM is the
  * one mainstream raster format with no compression, so the decode is
  * fully implementable without external jars; swapping in libjpeg/ffmpeg
  * for compressed formats changes only [[Codec]], none of the Spark
  * plumbing. Audio/video payloads stay headerless raw 8-bit samples
  * (the PCM analog). Raster/sample bytes are md5-derived so DuckDB can
  * reproduce the full container bit-exactly
  * (`encode(header) || from_hex(md5(...))`) and hash-gate the whole
  * pipeline, decode included.
  */
object Media {

  /** media table schema: (doc_id, kind, bytes, meta{width,height,
    * sample_rate, n_frames}) — kind ∈ image|audio|video by doc_id mod 3.
    */
  val KindSql = "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"

  /** Deterministic payload: `rounds` chained md5 blocks of 16 bytes each
    * — `unhex(md5(seed || i))`, identical in DuckDB via
    * `from_hex(md5(...))`.
    */
  def payload(docId: Column, rounds: Int): Column =
    concat((0 until rounds).map(i =>
      unhex(md5(concat(docId.cast("string"), lit(s"#$i"))))): _*)

  def payloadSql(e: String, rounds: Int): String =
    (0 until rounds).map(i =>
      s"from_hex(md5(CAST($e AS VARCHAR) || '#$i'))").mkString("(", " || ", ")")

  /** md5 blocks needed to cover the largest image raster: width ≤ 8,
    * height ≤ 6 → 8·6·3 = 144 raster bytes = 9 blocks of 16.
    */
  val PixRounds = 9

  /** Synthesize the media table from the documents table (TESTDATA.md —
    * driver parquet only; no external data). Image rows are REAL PPM P6
    * files: `P6\nW H\n255\n` + the md5 chain truncated to exactly
    * width·height·3 raster bytes. Audio/video rows are headerless raw
    * 8-bit samples, `rounds` md5 blocks = 64 bytes at the default.
    */
  def synthesize(docs: DataFrame, rounds: Int = 4): DataFrame = {
    val w = (col("doc_id") % 8 + 1).cast("int")
    val h = (col("doc_id") % 6 + 1).cast("int")
    val hdr = concat(lit("P6\n"), w.cast("string"), lit(" "),
      h.cast("string"), lit("\n255\n")).cast("binary")
    val ppm = concat(hdr,
      payload(col("doc_id"), PixRounds).substr(lit(1), (w * h * 3).cast("int")))
    docs.select(
      col("doc_id"),
      expr(KindSql).as("kind"),
      when(expr(KindSql) === "image", ppm)
        .otherwise(payload(col("doc_id"), rounds)).as("bytes"),
      struct(
        w.as("width"),
        h.as("height"),
        lit(16000).as("sample_rate"),
        (col("doc_id") % 5 + 1).cast("int").as("n_frames")).as("meta"))
  }

  /** The media codec — where a compressed-format library (libjpeg,
    * libsndfile, ffmpeg) would otherwise plug in. PPM (P6) is decoded
    * FOR REAL (it is raw RGB behind a tiny ASCII header);
    * audio/video payloads decode as headerless raw 8-bit samples.
    */
  object Codec {

    /** Full PPM (P6) parse: magic, header tokens separated by arbitrary
      * whitespace and `#`-to-EOL comments (the netpbm spec), maxval
      * validated ≤ 255 (8-bit), exactly one whitespace byte before the
      * raster, raster length checked against width·height·3. Returns
      * (width, height, samples 0..255 in R,G,B row-major order).
      * Malformed input throws IllegalArgumentException.
      */
    def decodePpm(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"PPM: $msg")
      if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6')
        fail("bad magic (want P6)")
      var i = 2
      def isWs(b: Byte): Boolean =
        b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == 0x0b || b == 0x0c
      def skipWsAndComments(): Unit = {
        var go = true
        while (go) {
          while (i < bytes.length && isWs(bytes(i))) i += 1
          if (i < bytes.length && bytes(i) == '#')
            while (i < bytes.length && bytes(i) != '\n') i += 1
          else go = false
        }
      }
      def token(what: String): Int = {
        skipWsAndComments()
        val st = i
        var v = 0
        while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
          v = v * 10 + (bytes(i) - '0')
          if (v > 0xFFFFFF) fail(s"$what out of range")
          i += 1
        }
        if (i == st) fail(s"expected integer $what")
        v
      }
      val w = token("width")
      val h = token("height")
      val maxval = token("maxval")
      if (w == 0 || h == 0) fail("zero dimension")
      if (maxval == 0 || maxval > 255) fail(s"unsupported maxval $maxval")
      if (i >= bytes.length || !isWs(bytes(i))) fail("missing raster separator")
      i += 1 // the spec's SINGLE whitespace byte before binary data
      // Long arithmetic: header dims up to 0xFFFFFF each would overflow
      // w*h*3 in Int, letting a wrapped n pass the exact-length check
      val nL = w.toLong * h.toLong * 3L
      if (nL > Int.MaxValue) fail(s"raster $w x $h exceeds 2^31 samples")
      val n = nL.toInt
      if (bytes.length - i != n)
        fail(s"raster is ${bytes.length - i} bytes, want $n")
      val out = new Array[Int](n)
      var j = 0
      while (j < n) { out(j) = bytes(i + j) & 0xff; j += 1 }
      (w, h, out)
    }

    /** Headerless raw 8-bit samples (the audio/video payload form). */
    def decodeRaw(bytes: Array[Byte]): Array[Int] = bytes.map(_ & 0xff)

    /** Kind dispatch: images are PPM containers, the rest raw samples. */
    def decode(kind: String, bytes: Array[Byte]): Array[Int] =
      if (kind == "image") decodePpm(bytes)._3 else decodeRaw(bytes)
  }

  /** Feature extraction over the decoded samples (real PPM parse for
    * images, raw samples for audio/video), batched per partition:
    * 16-bucket histogram + mean sample value per row.
    * Output: (doc_id, kind, hist: array<long> Γ16, mean_c: long — mean
    * ×100 floored, engine-order-independent).
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("kind"), col("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { batch =>
        // one pass per PARTITION (mapInPandas-batch analog): allocate the
        // histogram buffer once, reuse across the batch
        val hist = new Array[Long](16)
        batch.map { case (docId, kind, bytes) =>
          java.util.Arrays.fill(hist, 0L)
          val samples = Codec.decode(kind, bytes)
          var sum = 0L
          var i = 0
          while (i < samples.length) {
            hist(samples(i) >> 4) += 1L
            sum += samples(i)
            i += 1
          }
          val meanC = if (samples.isEmpty) 0L else sum * 100L / samples.length
          (docId, kind, hist.clone().toSeq, meanC)
        }
      }
      .toDF("doc_id", "kind", "hist", "mean_c")
  }

  /** Near-dup media synthesis: groups of `groupSize` consecutive doc_ids
    * share the first 3 payload blocks (the "image content"); the 4th
    * block is per-doc (the "re-encode noise"). Gives every group
    * identical low 48 sample positions and ≤ 15 differing high ones —
    * a planted perceptual-near-dup corpus DuckDB reproduces from hex
    * (`from_hex(md5(...))`), no external data, no RNG.
    */
  def synthesizeNearDup(docs: DataFrame, groupSize: Int = 7): DataFrame =
    docs.select(col("doc_id"),
      concat((0 until 3).map(i =>
        unhex(md5(concat(lit("g"),
          expr(s"doc_id DIV $groupSize").cast("string"), lit(s"#$i"))))) :+
        unhex(md5(concat(lit("p"), col("doc_id").cast("string")))): _*)
        .as("bytes"))

  /** Average-hash (aHash) style 63-bit perceptual hash over the decoded
    * samples: bit i = sample_i > 127 (fixed threshold — bits stay
    * independent, unlike mean-threshold aHash, so a k-sample
    * perturbation moves at most k bits). The near-dup corpus travels as
    * headerless raw samples ([[synthesizeNearDup]]), so this runs
    * [[Codec.decodeRaw]] on the same batched `mapPartitions` path as
    * [[extractFeatures]]; a container-wrapped corpus would swap in the
    * kind dispatch and nothing else.
    */
  def blockHash63(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val s = Codec.decodeRaw(bytes)
        val n = math.min(63, s.length)
        var h = 0L
        var i = 0
        while (i < n) {
          if (s(i) > 127) h |= (1L << i)
          i += 1
        }
        (id, h)
      })
      .toDF("id", "sh")
  }

  /** Perceptual-hash near-dup pair extraction — the image-dedup scale
    * path (banded LSH over aHash bits, exact Hamming verify), sharing
    * [[graft.dedup.Dedup.hammingPairs]] with the text SimHash pipeline.
    * Full recall here comes from the synthesis construction: group
    * members differ only in the 15 personal-block bits, so bands 0-2
    * always collide (the caller contract hammingPairs documents).
    */
  def phashPairs(media: DataFrame, maxHam: Int = 15,
                 maxBucket: Int = 1000): DataFrame =
    graft.dedup.Dedup.hammingPairs(
      blockHash63(media), maxHam, bands = 4, maxBucket = maxBucket)
}
