package graft.io

import java.nio.charset.{CharacterCodingException, StandardCharsets}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnPath}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** What a parquet file's footer proves about its data — the ONE place
  * the lakehouse formats read column-chunk statistics and record
  * counts. A metadata-only read: the record count, and for every
  * top-level primitive column the Spark type its physical type and
  * logical annotation read as, with one of three verdicts:
  *   - [[Exact]] min/max of the non-null values, decoded to that type's
  *     external value (Int, Long, Float, Double, Byte, Short,
  *     `java.math.BigDecimal`, `LocalDate`, `Instant`, `LocalDateTime`,
  *     String) — the same values Spark's min/max aggregation returns;
  *   - [[AllNull]]: every chunk records only nulls, so there is no bound;
  *   - [[Inexact]]: the footer does not prove the bounds — a chunk
  *     lacks statistics, a float bound is NaN, a string bound is not
  *     UTF-8, or the encoding's statistics do not order like the type
  *     Spark reads (unsigned ints read widened, INT96 and non-MICROS
  *     timestamps, and every type this reader does not decode).
  * Row groups merge through parquet's own `mergeStatistics`.
  *
  * Each table format encodes these values by its own spec (Iceberg
  * single-value bytes, Delta stats JSON) and never looks at parquet
  * types itself. String bounds are exact because Spark's min/max
  * orders UTF8String by unsigned bytes, which is parquet's
  * BinaryStatistics comparator, and parquet-mr truncates statistics
  * only when `parquet.statistics.truncate.length` is set. */
object FooterStats {

  sealed trait Bounds
  final case class Exact(min: Any, max: Any) extends Bounds
  case object AllNull extends Bounds
  case object Inexact extends Bounds

  /** One top-level primitive column; `dataType` is None where this
    * reader does not know the Spark type (TIME, ENUM, JSON, UUID...). */
  final case class Column(name: String, dataType: Option[DataType], bounds: Bounds)

  final case class FileStats(records: Long, columns: Seq[Column])

  def read(conf: Configuration, path: Path): FileStats = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val columns = footer.getFileMetaData.getSchema.getFields.asScala.toSeq
        .filter(_.isPrimitive).map(_.asPrimitiveType).map { f =>
          val (dt, decode) = decoding(f)
          Column(f.getName, dt, decode.fold[Bounds](Inexact)(bounds(f, blocks, _)))
        }
      FileStats(reader.getRecordCount, columns)
    } finally reader.close()
  }

  private type Decode = Statistics[_] => Option[(Any, Any)]

  /** Merge the column's chunk statistics across row groups and decode
    * them; any chunk without usable statistics makes the column
    * [[Inexact]]. */
  private def bounds(f: PrimitiveType, blocks: Seq[BlockMetaData], decode: Decode): Bounds = {
    val path = ColumnPath.get(f.getName)
    val chunks = blocks.flatMap(_.getColumns.asScala.find(_.getPath == path))
    if (chunks.size != blocks.size) return Inexact
    val merged = Statistics.getBuilderForReading(f).build().asInstanceOf[Statistics[_]]
    for (ch <- chunks) {
      val st = ch.getStatistics
      if (st == null || (st.isEmpty && ch.getValueCount > 0)) return Inexact
      if (st.hasNonNullValue) merged.mergeStatistics(st)
      // neither usable bounds nor a recorded all-null chunk
      else if (!st.isNumNullsSet || st.getNumNulls != ch.getValueCount) return Inexact
    }
    if (!merged.hasNonNullValue) AllNull
    else decode(merged).fold[Bounds](Inexact) { case (lo, hi) => Exact(lo, hi) }
  }

  /** The Spark type a column reads as, and the decoder of its merged
    * statistics — None where the statistics are not provably the
    * values Spark reads. */
  private def decoding(f: PrimitiveType): (Option[DataType], Option[Decode]) = {
    def exact(dt: DataType)(d: Decode) = (Some(dt), Some(d))
    def inexact(dt: DataType) = (Some(dt), None)
    def ints(g: Int => Any): Decode = {
      case s: IntStatistics => Some((g(s.getMin), g(s.getMax)))
      case _ => None
    }
    def longs(g: Long => Any): Decode = {
      case s: LongStatistics => Some((g(s.getMin), g(s.getMax)))
      case _ => None
    }
    def decimal(d: DecimalLogicalTypeAnnotation) = DecimalType(d.getPrecision, d.getScale)
    def unscaled(d: DecimalLogicalTypeAnnotation)(u: Long) =
      java.math.BigDecimal.valueOf(u, d.getScale)
    (f.getPrimitiveTypeName, f.getLogicalTypeAnnotation) match {
      case (INT32, null) => exact(IntegerType)(ints(identity))
      case (INT32, i: IntLogicalTypeAnnotation) if !i.isSigned =>
        // uint8/16/32 read widened; parquet orders them unsigned
        inexact(i.getBitWidth match { case 8 => ShortType; case 16 => IntegerType; case _ => LongType })
      case (INT32, i: IntLogicalTypeAnnotation) => i.getBitWidth match {
        case 8 => exact(ByteType)(ints(_.toByte))
        case 16 => exact(ShortType)(ints(_.toShort))
        case _ => exact(IntegerType)(ints(identity))
      }
      case (INT32, _: DateLogicalTypeAnnotation) =>
        exact(DateType)(ints(d => LocalDate.ofEpochDay(d.toLong)))
      case (INT32, d: DecimalLogicalTypeAnnotation) =>
        exact(decimal(d))(ints(u => unscaled(d)(u.toLong)))
      case (INT64, null) => exact(LongType)(longs(identity))
      case (INT64, i: IntLogicalTypeAnnotation) =>
        if (i.isSigned) exact(LongType)(longs(identity)) else inexact(DecimalType(20, 0))
      case (INT64, t: TimestampLogicalTypeAnnotation) =>
        val utc = t.isAdjustedToUTC
        val dt = if (utc) TimestampType else TimestampNTZType
        if (t.getUnit != TimeUnit.MICROS) inexact(dt)
        else exact(dt)(longs { us =>
          val (s, n) = (Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
          if (utc) Instant.ofEpochSecond(s, n)
          else LocalDateTime.ofEpochSecond(s, n.toInt, ZoneOffset.UTC)
        })
      case (INT64, d: DecimalLogicalTypeAnnotation) => exact(decimal(d))(longs(unscaled(d)))
      case (FLOAT, _) => exact(FloatType) {
        case s: FloatStatistics if !s.getMin.isNaN && !s.getMax.isNaN => Some((s.getMin, s.getMax))
        case _ => None
      }
      case (DOUBLE, _) => exact(DoubleType) {
        case s: DoubleStatistics if !s.getMin.isNaN && !s.getMax.isNaN => Some((s.getMin, s.getMax))
        case _ => None
      }
      case (BINARY, _: StringLogicalTypeAnnotation) => exact(StringType) {
        case s: BinaryStatistics => for (lo <- utf8(s.getMin); hi <- utf8(s.getMax)) yield (lo, hi)
        case _ => None
      }
      case (BINARY | FIXED_LEN_BYTE_ARRAY, null) => inexact(BinaryType)
      case (FIXED_LEN_BYTE_ARRAY, d: DecimalLogicalTypeAnnotation) => inexact(decimal(d))
      case (BOOLEAN, _) => inexact(BooleanType)
      case (INT96, _) => inexact(TimestampType)
      case _ => (None, None)
    }
  }

  private def utf8(b: Binary): Option[String] =
    try Some(StandardCharsets.UTF_8.newDecoder().decode(b.toByteBuffer).toString)
    catch { case _: CharacterCodingException => None }
}
