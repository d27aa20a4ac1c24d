package graft

import graft.io.{FileCatalog, Mover, Readers, Writers}
import graft.model.SchemaJson
import graft.ops.{Cleaner, CsvRepair, PatientDatamart}
import graft.pipeline.{Clock, Pipeline, Stage, SystemClock}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The complete reference pipeline as one runnable app — a user of
  * syntheaetlproject/Synthea-ETL points this at their Synthea CSV export and
  * gets the same four stages (SURVEY.md §0): landing→source/archive move,
  * malformed-CSV repair, schema-driven clean to parquet + catalog, and the
  * SCD2 patient star schema.
  *
  * Layout mirrors the reference: `<root>/<layer>/<yyyy-MM-dd>/<table>/`,
  * optional external schemas at `<root>/schemas/<table>.json` (reference
  * format: `[{"name","type"}]`; absent → all-string, like the reference's
  * missing-schema fallback).
  *
  * Usage: `SyntheaEtl <landingDir> <root> [date]`.
  */
object SyntheaEtl {

  val ExpectedTables: Set[String] = Set(
    "allergies", "careplans", "claims", "claims_transactions", "conditions",
    "devices", "encounters", "imaging_studies", "immunizations", "medications",
    "observations", "organizations", "patients", "payer_transitions", "payers",
    "procedures", "providers", "supplies")

  private val MartSources = Set("patients", "payers", "allergies", "medications",
    "observations", "encounters", "conditions", "payer_transitions")

  /** Declared schema resolution, most-specific first: a user-provided
    * `<root>/schemas/<table>.json` override (the reference's S3 schema
    * folder, Raw_To_Staging.py:72-76), then the packaged 18-table Synthea
    * dictionary (resources `graft/schemas/`, types per
    * Documentation/Tables_Description.xlsx), then empty = all-string, the
    * reference's missing-schema behavior. A standard Synthea export never
    * reaches the fallback: all 18 tables ship as resources. */
  def schemaFor(root: String, table: String): org.apache.spark.sql.types.StructType = {
    val p = java.nio.file.Paths.get(s"$root/schemas/$table.json")
    if (java.nio.file.Files.exists(p)) SchemaJson.load(p.toString)
    else SchemaJson.loadResource(table)
      .getOrElse(new org.apache.spark.sql.types.StructType()) // all-string fallback
  }

  /** Build the stage list for one run date. `requireAll`: enforce the
    * reference's 18-table completeness barrier before transforming. */
  def stages(landing: String, root: String, date: String, clock: Clock,
             requireAll: Boolean = false): Seq[Stage] = {
    val catalog = new FileCatalog(root)

    def tables: Seq[String] = catalog.listTables("source", date)

    Seq(
      Stage("ingest", _ => new Mover().ingestAll(landing, root, date)),
      // per-table bodies are independent (disjoint source/target dirs) —
      // they run on a bounded pool so the stage overlaps the per-job
      // fixed costs the reference's sequential Glue loop pays 18× over
      // (outputs byte-identical; see graft.pipeline.Par)
      Stage("repair", s => {
        graft.pipeline.Par.foreach(tables, 8) { t =>
          val files = catalog.listFiles(s"$root/source/$date/$t", ".csv")
          files.headOption.foreach { f =>
            CsvRepair.repair(s, Readers.text(s, f)).foreach { df =>
              Writers.csvSingleFile(df, s"$root/raw/$date/$t")
            }
          }
        }
      }, precondition = _ =>
        !requireAll || new Mover().isComplete(root, date, ExpectedTables)),
      Stage("clean", s => {
        graft.pipeline.Par.foreach(tables, 8) { t =>
          val raw = Readers.csv(s, s"$root/raw/$date/$t")
          val cleaned = Cleaner.clean(raw, schemaFor(root, t))
          Writers.parquetTable(
            Cleaner.withAuditColumns(cleaned, s"$root/raw/$date/$t", date),
            s"$root/staging/$date/$t", s"staging_$t")
        }
      }),
      Stage("mart", s => {
        // one read per staging table: `patients` feeds two dims and the fact
        val stagingReads = scala.collection.mutable.Map.empty[String, DataFrame]
        def staging(t: String): DataFrame =
          stagingReads.getOrElseUpdate(t, Readers.parquet(s, s"$root/staging/$date/$t"))
        val loadedDims = scala.collection.mutable.ListBuffer.empty[DataFrame]
        def existing(dim: String): Option[DataFrame] = {
          // Hadoop FS check (not java.io.File) so the probe also works on
          // HDFS/S3A roots
          val p = new org.apache.hadoop.fs.Path(s"$root/mart/$dim")
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) {
            val df = Readers.parquet(s, p.toString)
            loadedDims += df
            Some(df)
          } else None
        }
        // the SCD2 merges are independent per dim (disjoint targets; the
        // fact's plan references the dim FRAMES, not their written files)
        // — write them concurrently, two-phase each
        graft.pipeline.Par.foreach(
          PatientDatamart.build(staging, existing, clock).toSeq, 8) {
          case (name, df) =>
            val live = new org.apache.hadoop.fs.Path(s"$root/mart/$name")
            val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
            if (!fs.exists(live))
              // FIRST load: the target does not exist, so no plan can be
              // reading it — write the dim directly. The two-phase dance
              // below otherwise costs a full extra write + read-back +
              // delete per table on every initial backfill.
              Writers.parquetTable(df, live.toString, name)
            else {
              // two-phase write: the merge reads the existing dim, so
              // materialize to a staging location before overwriting the
              // live one
              val tmp = s"$root/mart/.tmp_$name"
              Writers.parquet(df, tmp)
              Writers.parquetTable(Readers.parquet(s, tmp), live.toString, name)
              fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
            }
        }
        // the SCD2 merge caches each existing dim for its self-joins
        // (Scd2.faithful/idiomatic); those entries are dead once the dim is
        // rewritten — release them so long-lived sessions don't accumulate
        loadedDims.foreach(_.unpersist())
      }, precondition = _ => MartSources.subsetOf(tables.toSet))
    )
  }

  def run(spark: SparkSession, landing: String, root: String, date: String,
          clock: Clock = SystemClock, requireAll: Boolean = false): Seq[String] =
    Pipeline(stages(landing, root, date, clock, requireAll)).run(spark)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SyntheaEtl <landingDir> <root> [date]")
    val date = if (args.length > 2) args(2)
               else java.time.LocalDate.now().toString
    val spark = GraftSession.get("synthea-etl")
    val ran = run(spark, args(0), args(1), date)
    println(s"[synthea-etl] stages run: ${ran.mkString(", ")}")
    spark.stop()
  }
}
