package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-driven cleaner (SURVEY.md §2.4-§2.6; reference:
  * Raw_To_Staging.py:101-140).
  *
  * A chain of pure `DataFrame => DataFrame` steps. Every step is built from
  * codegen'd `org.apache.spark.sql.functions` so the whole chain collapses
  * into a single WholeStageCodegen projection over the scan — Catalyst's
  * CollapseProject does this for free; nothing here shuffles except the
  * final dedup.
  *
  * Reference quirks reproduced deliberately (documented in SURVEY.md §1.3):
  *   - T1: declared-timestamp columns are *formatted to string*
  *     `yyyy-MM-dd'T'H:mm:ss` (single-H, no zero-pad) instead of cast.
  *   - T2: string nulls become the literal "None".
  *   - T3: column names lower-cased, trimmed, `\W+` → `_` (unicode-aware to
  *     match Python's `re`).
  */
object Cleaner {

  /** The reference's multi-value separator: the word "or" (incl. accented
    * variants) surrounded by whitespace (Raw_To_Staging.py:106). */
  val OrPattern = "\\s+[oO\u00f3\u00d3][rR]\\s+"

  /** T3 / P2 — normalize a column name like Python
    * `re.sub(r'\W+','_', name.strip().lower())` (unicode word classes). */
  def normalizeName(name: String): String =
    name.strip().toLowerCase.replaceAll("(?U)\\W+", "_")

  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName).toIndexedSeq: _*)

  /** P1 — drop unnamed/empty-named columns. */
  def dropUnnamedColumns(df: DataFrame): DataFrame = {
    val keep = df.columns.filter(c => c != null && c.trim.nonEmpty)
    df.select(keep.map(col).toIndexedSeq: _*)
  }

  private def stringCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case StructField(n, StringType, _, _) => n }.toSeq

  /** P3 — trim every string column. */
  def trimStrings(df: DataFrame): DataFrame = {
    val cols = stringCols(df).toSet
    df.select(df.columns.toIndexedSeq.map { c =>
      if (cols(c)) trim(col(c)).as(c) else col(c)
    }: _*)
  }

  /** P4 — strip dashes from phone-ish columns (name contains phone/mobile;
    * reference: Raw_To_Staging.py:113-115). */
  def stripPhoneDashes(df: DataFrame): DataFrame = {
    val targets = df.columns.filter(c => c.contains("phone") || c.contains("mobile")).toSet
    if (targets.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map { c =>
      if (targets(c)) regexp_replace(col(c), "-", "").as(c) else col(c)
    }: _*)
  }

  /** P5 + F3 — multi-value split. For each string column that contains the
    * word "or" in at least one value (a limit-1 existence probe per column
    * in the reference, which runs a full scan per column, SURVEY.md §3.2 —
    * here [[multiValueColumns]] probes them all in one scan, an allowed
    * optimization since output is identical), add `<col>_part1` /
    * `<col>_part2` (trimmed split items 0 and 1); drop the original unless
    * it is in the declared schema, in which case the original column is
    * replaced by part1 (reference: Raw_To_Staging.py:117-125). */
  def splitMultiValue(df: DataFrame, declared: Set[String]): DataFrame = {
    val candidates = stringCols(df)
    if (candidates.isEmpty) return df
    val hits = multiValueColumns(df, candidates)
    if (hits.isEmpty) return df
    // One projection for every hit column (not a withColumn per column —
    // that stacks O(hits) Projects for the analyzer to re-resolve and
    // collapse). `get` (not getItem/element_at): out-of-range → null even
    // under ANSI mode, matching the reference's Spark-3 getItem semantics.
    def part(c: String, i: Int): Column = trim(get(split(col(c), OrPattern), lit(i)))
    val kept = df.columns.toSeq.flatMap { c =>
      if (!hits(c)) Some(col(c))
      else if (declared.contains(c)) Some(part(c, 0).as(c)) // replaced in place
      else None                                             // dropped
    }
    val partCols = candidates.filter(hits).flatMap(c =>
      Seq(part(c, 0).as(s"${c}_part1"), part(c, 1).as(s"${c}_part2")))
    df.select(kept ++ partCols: _*)
  }

  /** The `candidates` with at least one value matching [[OrPattern]]. One
    * job, no shuffle: a `noop` write scans `df` once while an observation
    * takes `max(rlike)` per column. Every call gets its own observation
    * name, since tables are cleaned concurrently. */
  def multiValueColumns(df: DataFrame, candidates: Seq[String]): Set[String] = {
    val probe = Observation()
    val maxes = candidates.zipWithIndex.map { case (c, i) => max(col(c).rlike(OrPattern)).as(s"c$i") }
    df.observe(probe, maxes.head, maxes.tail: _*).write.format("noop").mode("overwrite").save()
    val seen = probe.get
    candidates.zipWithIndex.collect { case (c, i) if seen(s"c$i") == true => c }.toSet
  }

  /** P6 / T2 — replace nulls in string columns with the literal "None"
    * (reference: Raw_To_Staging.py:127-128). */
  def fillNone(df: DataFrame): DataFrame = df.na.fill("None")

  /** Lenient cast: unparseable values → null. Spark 4 runs ANSI mode by
    * default, where `Column.cast` *throws* on bad input; the reference is
    * Spark-3-non-ANSI where it nulls. We make the reference's leniency
    * explicit with `try_cast` instead of flipping the global ANSI flag. */
  def tryCast(c: Column, dt: DataType): Column = c.try_cast(dt)

  /** T1 — the reference's timestamp normalization: format (not cast) to an
    * ISO-ish string with a non-zero-padded hour. */
  def timestampToRefString(c: Column): Column =
    date_format(tryCast(c, TimestampType), "yyyy-MM-dd'T'H:mm:ss")

  /** P7 — lenient declared-schema cast: per-field try_cast (unparseable
    * → null), except declared timestamps which get the T1 string format
    * (reference: Raw_To_Staging.py:130-137). Columns absent from the schema
    * pass through untouched. */
  def castWithSchema(df: DataFrame, schema: StructType): DataFrame = {
    val declared = schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(df.columns.toIndexedSeq.map { c =>
      declared.get(c) match {
        case Some(TimestampType) => timestampToRefString(col(c)).as(c)
        case Some(dt)            => tryCast(col(c), dt).as(c)
        case None                => col(c)
      }
    }: _*)
  }

  /** D1 — full-row dedup. At scale this is a hash-aggregate over all
    * columns (one shuffle); Catalyst rewrites it via
    * ReplaceDeduplicateWithAggregate and AQE coalesces the output. */
  def dropDupes(df: DataFrame): DataFrame = df.dropDuplicates()

  /** The reference's full staging clean for one table
    * (Raw_To_Staging.py:101-140): rename → trim → phone → or-split →
    * fillna("None") → declared cast → dedup. */
  def clean(df: DataFrame, schema: StructType): DataFrame = {
    val declaredNames = schema.fields.map(_.name).toSet
    val steps: Seq[DataFrame => DataFrame] = Seq(
      dropUnnamedColumns,
      normalizeColumnNames,
      trimStrings,
      stripPhoneDashes,
      splitMultiValue(_, declaredNames),
      fillNone,
      castWithSchema(_, schema),
      dropDupes
    )
    steps.foldLeft(df)((acc, f) => f(acc))
  }

  /** P8 — audit metadata columns (reference: Raw_To_Staging.py:169-170). */
  def withAuditColumns(df: DataFrame, sourcePath: String, updatedTime: String): DataFrame =
    df.withColumn("source_path", lit(sourcePath))
      .withColumn("updated_time", lit(updatedTime))
}
