package graft.ops

import graft.io.Readers
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer

/** Dynamic CSV repair ingest (SURVEY.md §2.3 / §2.11).
  *
  * The reference's only custom execution code: read the file as raw text,
  * take the first line as the header, parse every line with a lenient CSV
  * parser (`skipinitialspace`), align each row to the header arity —
  * truncate long rows, right-pad short rows with `""` — and promote to a
  * DataFrame with all-string columns (reference:
  * Source_Raw_Dynamic.py:60-110).
  *
  * Ours is a Scala closure over `Dataset[String]` — a plain `map`, fully
  * distributed, no driver loop, no Catalyst extension needed. At 100 TB
  * this runs as one narrow stage over the text scan: no shuffle.
  */
object CsvRepair {

  /** Lenient single-line CSV parse matching Python `csv.reader` defaults
    * plus `skipinitialspace=True` (reference: Source_Raw_Dynamic.py:60-64):
    * comma delimiter, `"` quote char, doubled-quote escape, spaces after a
    * delimiter skipped, unterminated quotes tolerated. Failure → None
    * (reference returns `[]`). */
  def parseLine(line: String): Option[Array[String]] = {
    if (line == null) return None
    try {
      val out = ArrayBuffer.empty[String]
      val sb = new StringBuilder
      var i = 0
      var inQuotes = false
      var atFieldStart = true
      val n = line.length
      while (i < n) {
        val c = line.charAt(i)
        if (atFieldStart && !inQuotes && c == ' ') {
          // skipinitialspace: ignore spaces immediately after a delimiter
          i += 1
        } else if (atFieldStart && !inQuotes && c == '"') {
          inQuotes = true
          atFieldStart = false
          i += 1
        } else if (inQuotes) {
          if (c == '"') {
            if (i + 1 < n && line.charAt(i + 1) == '"') { sb.append('"'); i += 2 }
            else { inQuotes = false; i += 1 }
          } else { sb.append(c); i += 1 }
        } else if (c == ',') {
          out += sb.result(); sb.clear(); atFieldStart = true; i += 1
        } else {
          sb.append(c); atFieldStart = false; i += 1
        }
      }
      out += sb.result()
      Some(out.toArray)
    } catch {
      case _: Exception => None
    }
  }

  /** R2 — align a parsed row to the header arity: truncate extras, right-pad
    * missing fields with "" (reference: Source_Raw_Dynamic.py:67-69). */
  def align(fields: Array[String], arity: Int): Array[String] =
    if (fields.length == arity) fields
    else if (fields.length > arity) fields.take(arity)
    else fields ++ Array.fill(arity - fields.length)("")

  /** Full repair: text lines → header-named all-string DataFrame.
    * Returns None when the input is empty (reference's empty-input guards,
    * Source_Raw_Dynamic.py:94-96, :105-107). Unnamed/empty header columns
    * are dropped (reference: Source_Raw_Dynamic.py:72-73). */
  def repair(spark: SparkSession, lines: Dataset[String]): Option[DataFrame] = {
    // the header line, read once on the driver (no job for a file scan)
    val firstLine: Option[String] = Readers.firstLine(lines)
    val headerFields: Array[String] =
      firstLine.flatMap(parseLine).getOrElse(Array.empty)
    if (headerFields.isEmpty) return None

    val header = headerFields.map(_.trim)
    val arity = header.length
    val headerLine = firstLine.get

    import spark.implicits._
    // Skip the header row by value (the reference filters `line != header`);
    // each remaining line parses + aligns independently — embarrassingly
    // parallel, survives any scale.
    val rows = lines
      .filter((l: String) => l != headerLine)
      .map { l =>
        parseLine(l) match {
          case Some(fields) if fields.nonEmpty => align(fields, arity)
          case _                               => Array.fill(arity)("")
        }
      }

    val keep = header.zipWithIndex.filter { case (name, _) => name.nonEmpty }
    val schema = StructType(keep.map { case (name, _) => StructField(name, StringType, nullable = true) })
    val keepIdx = keep.map(_._2)
    val rowRdd = rows.rdd.map(arr => Row.fromSeq(keepIdx.toIndexedSeq.map(arr(_))))
    Some(spark.createDataFrame(rowRdd, schema))
  }
}
