package graft.io

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.StructType

/** Source scans (SURVEY.md §2.1).
  *
  * All readers return lazy plans; Catalyst pushes filters/column pruning into
  * the file scans (check with `.explain("formatted")` → `PushedFilters`,
  * `ReadSchema`). What a scan needs to know before it runs — a text file's
  * first line, a CSV header, a parquet schema — is read on the driver from
  * one file through Hadoop's FS API, so none of it costs a Spark job. The
  * layouts that need Spark's own listing (globs, partition directories,
  * several CSV files, parquet summary files) fall back to Spark's inference.
  */
object Readers {

  /** S3 — raw text scan, one string per line (for pre-parse CSV repair;
    * reference: Source_Raw_Dynamic.py:92). */
  def text(spark: SparkSession, path: String): Dataset[String] =
    spark.read.textFile(path)

  /** S4 — the first element of `lines`: the header probe (reference:
    * Source_Raw_Dynamic.py:93-99, `df.first()`). When `lines` is a bare
    * scan of one text file ([[text]]), Hadoop's own line reader — the one
    * the scan runs — reads that line on the driver; any other plan pays a
    * `head(1)` job. */
  def firstLine(lines: Dataset[String]): Option[String] =
    GraftBridge.textFileOf(lines) match {
      case Some(file) => leadingLines(lines.sparkSession, file)(_ => true).headOption
      case None => lines.head(1).headOption
    }

  /** The lines at the start of `file` up to and including the first one
    * `last` accepts, split and decoded as the text scan does (Hadoop's
    * `LineRecordReader`: LF, CR or CRLF; a leading UTF-8 BOM skipped;
    * compressed files through their codec). */
  private def leadingLines(spark: SparkSession, file: FileStatus)(
      last: String => Boolean): Seq[String] = {
    val reader = new LineRecordReader()
    reader.initialize(new FileSplit(file.getPath, 0, file.getLen, Array.empty[String]),
      new TaskAttemptContextImpl(GraftBridge.hadoopConf(spark), new TaskAttemptID()))
    try {
      val out = Seq.newBuilder[String]
      var done = false
      while (!done && reader.nextKeyValue()) {
        val t = reader.getCurrentValue
        val line = new String(t.getBytes, 0, t.getLength, UTF_8)
        out += line
        done = last(line)
      }
      out.result()
    } finally reader.close()
  }

  /** The files a `spark.read` of directory `path` scans, sorted by path,
    * when the directory is flat: Spark's hidden-name rule drops `_SUCCESS`
    * and `.crc` siblings. None for anything else — a glob, a plain file, a
    * missing path, a subdirectory (partitions) or a parquet summary file —
    * whose reading is left to Spark. */
  private def flatFiles(spark: SparkSession, path: String): Option[Seq[FileStatus]] = {
    if (path.exists("*?[]{}\\".contains(_))) return None
    val dir = new Path(path)
    val fs = dir.getFileSystem(GraftBridge.hadoopConf(spark))
    val listed =
      try { if (fs.getFileStatus(dir).isDirectory) fs.listStatus(dir) else return None }
      catch { case _: FileNotFoundException => return None }
    val visible = listed.filterNot(f => GraftBridge.isHiddenPath(f.getPath.getName))
    if (visible.exists(f => !f.isFile || f.getPath.getName.startsWith("_"))) None
    else Some(visible.toSeq.sortBy(_.getPath.toString))
  }

  /** S5 — CSV scan with header, all columns string (no inferSchema — matches
    * reference: Raw_To_Staging.py:166 so the declared-schema cast is the only
    * typing step). For a directory of one CSV file, the header schema is
    * the one Spark's CSV reader derives from that file's leading lines,
    * read on the driver and parsed as a local Dataset; the scan then runs
    * with it as its schema instead of inferring it in a job. */
  def csv(spark: SparkSession, path: String): DataFrame = {
    def reader = spark.read.option("header", "true")
    flatFiles(spark, path) match {
      case Some(Seq(file)) =>
        // up to the first line with a non-blank character: Spark's own
        // blank-line filter then picks the header among them
        val lines = leadingLines(spark, file)(_.exists(_ > ' '))
        val header = reader.csv(spark.createDataset(lines)(Encoders.STRING)).schema
        reader.schema(header).csv(path)
      case _ => reader.csv(path)
    }
  }

  /** CSV with an explicit schema (used by tests and the typed ingest path). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S6 — parquet scan. A flat directory's schema is the one Spark infers
    * from its first data file's footer, read on the driver; partitioned
    * and empty directories, plain files and `mergeSchema` sessions are
    * inferred by Spark. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val schema =
      if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
      else flatFiles(spark, path).flatMap(_.headOption).flatMap(GraftParquetBridge.schemaOf(spark, _))
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** Test-data table by name: `<sfDir>/<table>.parquet`. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Delta-format table at `version` (default latest) — any table with
    * an open `_delta_log`, whoever authored it (graft's writer, or a
    * foreign engine whose log carries commitInfo/txn noise, scattered
    * non-Hive file layouts, checkpoint files; see
    * [[DeltaInterop.readDelta]]). This is the graft-side entry for
    * consuming tables other engines publish. */
  def delta(spark: SparkSession, dir: String,
            version: Option[Long] = None): DataFrame =
    DeltaInterop.readDelta(spark, dir, version)

  /** Parquet timestamp columns in whatever physical encoding the
    * producer chose:
    *   - TIMESTAMP(NANOS) — Spark's vectorized reader rejects it
    *     ([PARQUET_TYPE_ILLEGAL]); we read nanos as raw longs (legacy
    *     conf) and convert with exact integer division (`div`, not `/`
    *     — ns epoch values exceed a double's 2^53 mantissa, so float
    *     division would corrupt them);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) — decodes as
    *     TIMESTAMP_NTZ; cast to TIMESTAMP (the session time zone is
    *     UTC, so the instant is unchanged and matches the oracle's
    *     naive read);
    *   - TIMESTAMP(MICROS, utc) — already the session type; no-op. */
  def parquetNanos(spark: SparkSession, path: String, nanosCols: Seq[String]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(path)
    nanosCols.foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType =>
          d.withColumn(c, org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr(s"`$c` div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(c, org.apache.spark.sql.functions.col(c)
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => d
      }
    }
  }

  /** S8 — empty relation with an explicit schema (SCD2 first-run seed;
    * reference: Patient_datamart.py:92-98). */
  def emptyWithSchema(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Permissive JSON-lines scan with corrupt-record capture — the JSON
    * mirror of the CSV repair stage: bad lines don't kill the job OR
    * silently vanish; they land in `_corrupt` for quarantine/metrics while
    * well-formed rows parse against the declared schema. (The declared
    * schema also means NO inference pass — one scan, not two.) */
  def jsonPermissive(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** Parquet scan across files with EVOLVED schemas: union-of-columns via
    * mergeSchema — files written before a column existed read as nulls.
    * The ingestion-compatibility knob for long-lived layered tables. */
  def parquetMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
