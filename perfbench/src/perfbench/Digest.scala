package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a frame: its row count plus the exact sum
  * of one xxhash64 per row over every output column.
  *
  * Hashing every column keeps Catalyst from pruning work the user needs
  * (a bare `count()` may skip whole projections). Floating values are
  * hashed at 10 significant digits, so a change in summation order
  * between passes does not change the digest; map entries are sorted, so
  * map order does not either.
  */
final case class Digest(rows: Long, hashSum: BigInt) {
  override def toString: String = s"$rows:$hashSum"
}

object Digest {
  def parse(s: String): Digest = {
    val Array(r, h) = s.split(":", 2)
    Digest(r.toLong, BigInt(h))
  }

  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.toSeq.map(f =>
      canon(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    val s = if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger)
    Digest(r.getLong(0), s)
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _)       => hasFloat(et)
    case MapType(_, _, _)       => true // entries are always re-sorted
    case StructType(fs)         => fs.exists(f => hasFloat(f.dataType))
    case _                      => false
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => canon(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        canon(e.getField("key"), kt).as("k"),
        canon(e.getField("value"), vt).as("v"))))
    case StructType(fs) if hasFloat(t) =>
      struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }
}
