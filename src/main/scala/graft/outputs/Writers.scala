package graft.outputs

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame

/** Single ordered output file (SURVEY §7.5.5): the reference writes one
  * GeoJSON(-Seq)/CSV file in length-desc order. At scale we stream the
  * *sorted* DataFrame through `toLocalIterator` — partitions arrive in
  * order, one at a time, so driver memory stays bounded by a single
  * partition, not the whole result.
  */
object Writers {

  def writeLines(lines: Iterator[String], path: String, overwrite: Boolean): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p) && !overwrite)
      throw new IllegalStateException(
        s"Output file $path already exists. Use --overwrite to overwrite") // main.rs behaviour
    Option(p.getParent).foreach(Files.createDirectories(_))
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    try lines.foreach(w.write)
    finally w.close()
  }

  /** GeoJSONSeq: one RS-framed feature per row of the pre-sorted,
    * pre-serialized single string column.
    */
  def writeGeoJsonSeq(featureJson: DataFrame, path: String, overwrite: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    writeLines(
      featureJson.toLocalIterator().asScala.map(r => GeoJson.seqFrame(r.getString(0))),
      path, overwrite)
  }

  /** `.geojson` FeatureCollection (fileio.rs:127-142). */
  def writeGeoJson(featureJson: DataFrame, path: String, overwrite: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    writeLines(
      GeoJson.featureCollection(
        featureJson.toLocalIterator().asScala.map(_.getString(0))),
      path, overwrite)
  }

  private def csvEsc(s: String): String =
    if (s.contains(',') || s.contains('"') || s.contains('\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Append-mode CSV (S8/S9: loops_csv_stats.rs:8-23, ends_csv.rs:14-54):
    * create the file with the header if missing; if it exists, warn on a
    * header mismatch (like the reference) and append the data rows.
    */
  def appendCsv(
      header: Seq[String], rows: Iterator[Seq[String]], path: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    if (!Files.exists(p))
      Files.writeString(p, header.mkString("", ",", "\n"))
    else {
      val first = scala.util.Using.resource(Files.lines(p))(
        _.findFirst().orElse(""))
      if (first != header.mkString(","))
        System.err.println(
          s"warn: different headers in $path. Expected $header got $first. " +
            "Continuing anyway, and writing the columns we expect.")
    }
    val w = new BufferedWriter(new FileWriter(path, true), 1 << 20)
    try rows.foreach(r => w.write(r.map(csvEsc).mkString("", ",", "\n")))
    finally w.close()
  }

  /** Rust `f64::Display`-style number rendering ("900", "0.1", "0.0001" —
    * shortest round-trip, no scientific notation, no trailing ".0"),
    * used for CSV value parity (ends_csv.rs:89-93 `.to_string()`).
    */
  def rustNum(v: Double): String = {
    val bd = new java.math.BigDecimal(java.lang.Double.toString(v))
      .stripTrailingZeros()
    bd.toPlainString
  }
}
