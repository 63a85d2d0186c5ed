package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused text→hash-array expressions for the dedup pipelines.
  *
  * The HOF formulation of shingle hashing —
  * `array_distinct(transform(shingles(text), s => md5h32(s)))` where
  * `shingles` is itself `transform(sequence(...), concat_ws(slice(...)))`
  * over `filter(split(text))` — evaluates five nested interpreted
  * higher-order functions per row, allocating a token array, a shingle
  * STRING per window (the concat), and three intermediate arrays, before
  * the md5 work even starts. These expressions tokenize the UTF-8 bytes
  * once and hash each window directly from the token byte ranges (the
  * single-space join is streamed into the digest, no shingle string is
  * ever materialised).
  *
  * Hash semantics are bit-identical to `Dedup.md5h32`/`md5h63` (the first
  * 8 / first 16 hex digits of md5 as BIGINT — i.e. the leading digest
  * bytes read big-endian), so every DuckDB oracle that replays the md5
  * math is untouched; TextHashExprsSpec pins equivalence with the HOF
  * forms on adversarial inputs (unicode, repeated/leading/trailing
  * spaces, < w tokens, empty strings).
  */
object TextHashExprs {
  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Token byte ranges: flat array of (start, end) offsets into `bytes`,
    * splitting on ASCII 0x20 and dropping empty tokens — exactly
    * `filter(split(text, " ", -1), t => t =!= "")` (space is ASCII, so
    * byte-splitting UTF-8 is safe).
    */
  private[functions] def tokenRanges(bytes: Array[Byte]): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (i > start) { out += start; out += i }
        start = i + 1
      }
      i += 1
    }
    out.result()
  }

  /** md5 of the w tokens starting at window index `from`, joined by a
    * single space, streamed into the digest.
    */
  private def digestWindow(
      md: MessageDigest, bytes: Array[Byte], ranges: Array[Int],
      from: Int, w: Int): Array[Byte] = {
    md.reset()
    var t = 0
    while (t < w) {
      if (t > 0) md.update(' '.toByte)
      val s = ranges(2 * (from + t))
      val e = ranges(2 * (from + t) + 1)
      md.update(bytes, s, e - s)
      t += 1
    }
    md.digest()
  }

  /** First 8 md5 hex digits as BIGINT = first 4 digest bytes big-endian. */
  private def h32(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)

  /** `Dedup.md5h63`: (h32 & 0x7FFFFFFF) * 2^32 + next 4 digest bytes. */
  private def h63(d: Array[Byte]): Long =
    (h32(d) & 0x7FFFFFFFL) * 4294967296L +
      (((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL))

  /** Ordered (non-distinct) shingle-hash longs for one text value —
    * shared by [[shingleHashArray]] and [[winnowEncodedArray]].
    */
  private def shingleHashLongs(bytes: Array[Byte], w: Int): Array[Long] = {
    val ranges = tokenRanges(bytes)
    val nTok = ranges.length / 2
    val md = md5Local.get()
    val n = if (nTok >= w) nTok - w + 1 else 1
    val shingleW = if (nTok >= w) w else nTok
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = h32(digestWindow(md, bytes, ranges, i, shingleW))
      i += 1
    }
    out
  }

  /** Shingle-hash array for one text value. `distinct` keeps the first
    * occurrence of each hash (= `array_distinct`). With fewer than `w`
    * tokens the whole token list is one shingle (md5 of "" for empty
    * texts) — the `shingles()` fallback branch.
    */
  def shingleHashArray(s: UTF8String, w: Int, distinct: Boolean): ArrayData = {
    val out = shingleHashLongs(s.getBytes, w)
    val n = out.length
    val vals =
      if (!distinct) out
      else {
        val seen = new java.util.HashSet[Long](n * 2)
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        var j = 0
        while (j < n) {
          if (seen.add(out(j))) b += out(j)
          j += 1
        }
        b.result()
      }
    UnsafeArrayData.fromPrimitiveArray(vals)
  }

  /** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken, SIGMOD
    * 2003 §3): slide a window of `win` consecutive w-gram hashes; in each
    * window select the minimum hash, rightmost occurrence on ties.
    * Guarantee: any shared token run of length ≥ w + win − 1 yields a
    * shared fingerprint, yet only ~2/(win+1) of grams are kept.
    *
    * Selected positions are non-decreasing as the window slides (the
    * rightmost-tie rule never re-selects to the left), so first-occurrence
    * dedup emits positions in ascending order. Each selection is encoded
    * as ONE long — `pos·2³² + hash` (md5h32 fits 32 bits; pos is a gram
    * index) — so the array stays primitive and the DuckDB oracle decodes
    * with `// 4294967296` and `% 4294967296` in exact integers.
    */
  def winnowEncodedArray(s: UTF8String, w: Int, win: Int): ArrayData = {
    val hs = shingleHashLongs(s.getBytes, w)
    val n = hs.length
    val m = if (n <= win) 1 else n - win + 1
    val b = new scala.collection.mutable.ArrayBuilder.ofLong
    var last = -1
    var j = 0
    while (j < m) {
      val end = math.min(j + win, n)
      var p = j
      var i = j + 1
      while (i < end) {
        if (hs(i) <= hs(p)) p = i
        i += 1
      }
      if (p != last) {
        b += (p.toLong << 32) | (hs(p) & 0xffffffffL)
        last = p
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(b.result())
  }

  /** Per-token md5h63 hash array (order-preserving, duplicates kept —
    * SimHash votes count every occurrence); empty/whitespace-only text
    * gives an empty array, matching `transform(tokens(text), md5h63)`.
    */
  /** Hashed-bag-of-tokens linear score: Σ over tokens (with repeats) of
    * w(md5h63(tok) mod buckets), weight table w(b) = (b mod 2001) − 1000
    * ∈ [−1000, 1000] derived from the bucket id itself — a deterministic
    * stand-in for trained fastText/logistic weights, so the scorer's
    * Spark shape (one fused pass, no stored model side-input) is real
    * and the DuckDB oracle replays it exactly. Zero tokens → 0.
    */
  def tokenLinearScore(s: UTF8String, buckets: Int): Long = {
    val bytes = s.getBytes
    val ranges = tokenRanges(bytes)
    val nTok = ranges.length / 2
    val md = md5Local.get()
    var acc = 0L
    var i = 0
    while (i < nTok) {
      val b = h63(digestWindow(md, bytes, ranges, i, 1)) % buckets
      acc += b % 2001 - 1000
      i += 1
    }
    acc
  }

  def tokenHash63Array(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val ranges = tokenRanges(bytes)
    val nTok = ranges.length / 2
    val md = md5Local.get()
    val out = new Array[Long](nTok)
    var i = 0
    while (i < nTok) {
      out(i) = h63(digestWindow(md, bytes, ranges, i, 1))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

private[functions] trait TextToLongArrayExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
}

/** `Dedup.distinctShingleHashes` as one fused pass; `distinct = false`
  * keeps every window in order (the form `Dedup.shingleHashesHof`
  * computes). */
case class ShingleHashes(child: Expression, w: Int, distinct: Boolean)
    extends TextToLongArrayExpr {
  require(w >= 1, s"shingle width must be >= 1; got $w")
  override def prettyName: String = "graft_shingle_hashes"

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)

  protected override def nullSafeEval(input: Any): Any =
    TextHashExprs.shingleHashArray(input.asInstanceOf[UTF8String], w, distinct)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      s"""${ev.value} = graft.functions.TextHashExprs.shingleHashArray(
         |  $str, $w, $distinct);""".stripMargin
    })
}

/** Winnowing fingerprints as pos-encoded longs — see
  * [[TextHashExprs.winnowEncodedArray]].
  */
case class WinnowFingerprints(child: Expression, w: Int, win: Int)
    extends TextToLongArrayExpr {
  require(w >= 1 && win >= 1, s"w and win must be >= 1; got $w, $win")
  override def prettyName: String = "graft_winnow_fingerprints"

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)

  protected override def nullSafeEval(input: Any): Any =
    TextHashExprs.winnowEncodedArray(input.asInstanceOf[UTF8String], w, win)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      s"""${ev.value} = graft.functions.TextHashExprs.winnowEncodedArray(
         |  $str, $w, $win);""".stripMargin
    })
}

/** fastText-style hashed-linear classifier inference (model-based
  * quality filtering à la CCNet/RefinedWeb) as one codegen'd pass —
  * see [[TextHashExprs.tokenLinearScore]].
  */
case class TokenLinearScore(child: Expression, buckets: Int)
    extends StringInputExpr {
  require(buckets >= 1, s"buckets must be >= 1; got $buckets")
  override def prettyName: String = "graft_token_linear_score"
  override def dataType: DataType = LongType

  override protected def withNewChildInternal(newChild: Expression): TokenLinearScore =
    copy(child = newChild)

  protected override def nullSafeEval(input: Any): Any =
    TextHashExprs.tokenLinearScore(input.asInstanceOf[UTF8String], buckets)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str =>
      s"${ev.value} = graft.functions.TextHashExprs.tokenLinearScore($str, $buckets);")
}

/** The staged SimHash token-hash array (`transform(tokens, md5h63)`). */
case class TokenHashes63(child: Expression) extends TextToLongArrayExpr {
  override def prettyName: String = "graft_token_hashes63"

  override protected def withNewChildInternal(newChild: Expression): TokenHashes63 =
    copy(child = newChild)

  protected override def nullSafeEval(input: Any): Any =
    TextHashExprs.tokenHash63Array(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      s"${ev.value} = graft.functions.TextHashExprs.tokenHash63Array($str);"
    })
}
