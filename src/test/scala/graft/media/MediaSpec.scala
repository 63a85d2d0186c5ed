package graft.media

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Multimodal plumbing: binary columns, typed metadata, the REAL PPM
  * codec and batched decode.
  */
class MediaSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def docs = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (6L, "e"))
    .toDF("doc_id", "text")

  private def md5Bytes(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))

  /** A binary PPM (P6): `P6\nW H\n255\n` + raster. */
  private def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
    s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ rgb

  test("synthesize: schema, kinds, audio raw payload, image is real PPM") {
    val m = Media.synthesize(docs)
    assert(m.schema("bytes").dataType.typeName == "binary")
    assert(m.schema("meta").dataType.typeName == "struct")
    val kinds = m.select("doc_id", "kind").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(kinds(0L) == "image" && kinds(1L) == "audio" && kinds(2L) == "video")
    val b = m.filter(col("doc_id") === 1L).select("bytes").head().getAs[Array[Byte]](0)
    assert(b.length == 64)
    // audio payload block 0 = md5("1#0") bytes, headerless
    assert(b.take(16).toSeq == md5Bytes("1#0").toSeq)
    // doc 0 (image, 1×1): a real PPM container — header + 3 raster bytes
    val img = m.filter(col("doc_id") === 0L).select("bytes").head().getAs[Array[Byte]](0)
    assert(img.take(11).toSeq == "P6\n1 1\n255\n".getBytes("US-ASCII").toSeq)
    assert(img.drop(11).toSeq == md5Bytes("0#0").take(3).toSeq)
    // doc 6 (image, 7×1): raster truncates the md5 chain to 21 bytes
    val img6 = m.filter(col("doc_id") === 6L).select("bytes").head().getAs[Array[Byte]](0)
    val (w6, h6, px6) = Media.Codec.decodePpm(img6)
    assert((w6, h6) == ((7, 1)) && px6.length == 21)
    assert(px6.toSeq == (md5Bytes("6#0") ++ md5Bytes("6#1"))
      .take(21).map(_ & 0xff).toSeq)
  }

  test("decodePpm: comments, header whitespace, malformed inputs") {
    val raster = Array.tabulate[Byte](6)(i => (i * 40).toByte)
    // netpbm-style comments and loose whitespace in the header
    val loose = ("P6\n# a comment\n 2 1\t# another\n255\n"
      .getBytes("US-ASCII")) ++ raster
    val (w, h, px) = Media.Codec.decodePpm(loose)
    assert((w, h) == ((2, 1)) && px.toSeq == raster.map(_ & 0xff).toSeq)
    // round trip through the encoder
    val enc = encodePpm(2, 1, raster)
    assert(Media.Codec.decodePpm(enc)._3.toSeq == raster.map(_ & 0xff).toSeq)
    def bad(bs: Array[Byte]) =
      intercept[IllegalArgumentException](Media.Codec.decodePpm(bs))
    bad("P5\n1 1\n255\n...".getBytes("US-ASCII"))            // wrong magic
    bad("P6\n2 1\n255\n".getBytes("US-ASCII") ++ raster.take(5)) // short raster
    bad("P6\n2 1\n255\n".getBytes("US-ASCII") ++ raster ++ raster) // long raster
    bad("P6\n2 1\n65535\n".getBytes("US-ASCII") ++ raster)   // 16-bit maxval
    bad("P6\n2 0\n255\n".getBytes("US-ASCII"))               // zero dimension
  }

  test("extractFeatures: histogram + mean agree with a local recompute") {
    val m = Media.synthesize(docs)
    val f = Media.extractFeatures(m).collect()
      .map(r => (r.getLong(0), (r.getSeq[Long](2), r.getLong(3)))).toMap
    val bytes = m.select("doc_id", "kind", "bytes").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getAs[Array[Byte]](2)))).toMap
    for ((id, (kind, bs)) <- bytes) {
      // images decode through the real PPM parse (header stripped)
      val samples = Media.Codec.decode(kind, bs)
      val hist = new Array[Long](16)
      samples.foreach(s => hist(s >> 4) += 1)
      assert(f(id)._1 == hist.toSeq, s"hist mismatch for $id")
      assert(f(id)._2 == samples.map(_.toLong).sum * 100 / samples.length)
    }
    // batch shape: features preserve the input partitioning (mapPartitions
    // is narrow — no shuffle inserted)
    val plan = Media.extractFeatures(m).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decode batch should be narrow:\n$plan")
  }

  test("phashPairs: every in-group pair found, hamming confined to personal bits") {
    val spark2 = spark
    import spark2.implicits._
    val ids = (0L until 21L).toDF("doc_id") // 3 full groups of 7
    val m = Media.synthesizeNearDup(ids)
    val hs = Media.blockHash63(m)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // group members share bits 0..47 exactly (payload blocks 0-2)
    for (g <- 0L until 3L; a <- 0L until 7L; b <- 0L until 7L if a < b) {
      val (ha, hb) = (hs(g * 7 + a), hs(g * 7 + b))
      assert((ha & 0xFFFFFFFFFFFFL) == (hb & 0xFFFFFFFFFFFFL))
      assert(java.lang.Long.bitCount(ha ^ hb) <= 15)
    }
    val got = Media.phashPairs(m)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // expected = brute force over the hashes at the same threshold
    val expect = (for {
      a <- 0L until 21L; b <- 0L until 21L if a < b
      h = java.lang.Long.bitCount(hs(a) ^ hs(b))
      if h <= 15 &&
        (0 until 4).exists(k => ((hs(a) >> (16 * k)) & 0xFFFFL) ==
          ((hs(b) >> (16 * k)) & 0xFFFFL))
    } yield (a, b) -> h.toLong).toMap
    assert(got == expect)
    // all 63 in-group pairs are present (recall by construction)
    assert((for (g <- 0L until 3L; a <- 0L until 7L; b <- 0L until 7L
                 if a < b) yield (g * 7 + a, g * 7 + b))
      .forall(got.contains))
  }
}
