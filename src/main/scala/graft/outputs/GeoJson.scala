package graft.outputs

import java.util.Locale

/** GeoJSON / GeoJSONSeq formatters (SURVEY.md §2.1 S6).
  *
  * Byte-parity targets from the reference
  * (/root/reference/src/fileio.rs:116-213):
  *   - coordinates fixed 6 decimal places (fileio.rs:185,196,209)
  *   - GeoJSONSeq framing: RS (0x1E) prefix, LF (0x0A) suffix per feature
  *     (fileio.rs:156-168)
  *   - `.geojson` FeatureCollection wrapper (fileio.rs:127-142)
  *   - feature shape {"properties":…, "geometry":…, "type":"Feature"}
  */
object GeoJson {

  def fmtCoord(lon: Double, lat: Double): String =
    String.format(Locale.ROOT, "[%.6f, %.6f]", Double.box(lon), Double.box(lat))

  def lineString(coords: Seq[(Double, Double)]): String =
    s"""{"coordinates":[${coords.map { case (lon, lat) => fmtCoord(lon, lat) }
        .mkString(",")}],"type":"LineString"}"""

  def multiLineString(lines: Seq[Seq[(Double, Double)]]): String =
    s"""{"coordinates":[${lines
        .map(l => s"[${l.map { case (lon, lat) => fmtCoord(lon, lat) }.mkString(",")}]")
        .mkString(",")}],"type":"MultiLineString"}"""

  /** A feature with pre-serialized properties JSON and geometry JSON. */
  def feature(propertiesJson: String, geometryJson: String): String =
    s"""{"properties":$propertiesJson,"geometry":$geometryJson,"type":"Feature"}"""

  /** GeoJSONSeq framing: RS + feature + LF (RFC 8142; fileio.rs:156-168). */
  def seqFrame(featureJson: String): String = "\u001e" + featureJson + "\n"

  /** FeatureCollection wrapper for `.geojson` output (fileio.rs:127-142). */
  def featureCollection(features: Iterator[String]): Iterator[String] =
    Iterator("""{"type":"FeatureCollection", "features": [""") ++
      features.zipWithIndex.map { case (f, i) => if (i == 0) f else ",\n" + f } ++
      Iterator("]}")

  /** JSON number rendering matching Rust serde_json's f64 output: plain
    * decimal (never scientific), integral floats keep a trailing `.0`.
    */
  def numJson(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v.isWhole && math.abs(v) < 1e15) s"${v.toLong}.0"
    else BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString

  /** Properties object with serde_json's default (BTreeMap) key order —
    * ALPHABETICAL, which is what the reference's `json!({...})` emits
    * (its Cargo.toml does not enable preserve_order). Values must be
    * pre-serialized JSON.
    */
  def propsJson(kvs: Iterable[(String, String)]): String =
    kvs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:$v" }
      .mkString("{", ",", "}")

  /** JSON string escaping matching serde_json's writer exactly: short
    * escapes for `"` `\` and \b \t \n \f \r, `\u00xx` for the remaining
    * control chars.
    */
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\b' => "\\b"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\f' => "\\f"
      case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
