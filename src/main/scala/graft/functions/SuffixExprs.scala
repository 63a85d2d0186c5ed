package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression for the suffix-array / exact-substring-dedup
  * operators (graft.text.SuffixArray).
  *
  * A codegen'd single-pass byte loop over the UTF-8 payload — the
  * interpreted alternative, a 7-step binary-descent LCP written as
  * chained `when(substr...)` Columns, re-materialises O(log cap)
  * substrings per row and explodes the expression tree under project
  * collapsing.
  */
object SuffixExprs {

  /** Length in CHARACTERS of the longest common prefix of two strings,
    * comparing UTF-8 bytes (= binary collation, the sort order both
    * Spark and DuckDB use for strings). A trailing partially-matched
    * multi-byte character is not counted.
    */
  def commonPrefixChars(a: UTF8String, b: UTF8String): Long = {
    val na = a.numBytes
    val nb = b.numBytes
    val n = math.min(na, nb)
    var i = 0
    while (i < n && a.getByte(i) == b.getByte(i)) i += 1
    // back off a partially matched multi-byte char: drop continuation
    // bytes until the byte at i starts a char (or i hits a boundary)
    if (i < na && i < nb) {
      while (i > 0 && (a.getByte(i) & 0xc0) == 0x80) i -= 1
    }
    var chars = 0L
    var j = 0
    while (j < i) {
      if ((a.getByte(j) & 0xc0) != 0x80) chars += 1
      j += 1
    }
    chars
  }
}

/** `graft_common_prefix_len(a, b)` — see [[SuffixExprs.commonPrefixChars]]. */
case class CommonPrefixLen(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_common_prefix_len"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CommonPrefixLen =
    copy(left = newLeft, right = newRight)

  protected override def nullSafeEval(a: Any, b: Any): Any =
    SuffixExprs.commonPrefixChars(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.SuffixExprs.commonPrefixChars($a, $b);"
    })
}
