package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Tuned for the test harness (single JVM, `local[N]`) but every setting is
  * chosen to also be the right default on a large cluster:
  *   - AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  *     dynamic broadcast decisions — essential at 100 TB where static
  *     `spark.sql.shuffle.partitions` can never be right for every stage.
  *   - UTC session time zone: deterministic timestamp semantics for the
  *     DuckDB-oracle comparisons and for cross-region cluster runs.
  *   - shuffle partitions sized to the local core count rather than the
  *     200 default (on a real cluster AQE coalescing makes the initial
  *     number mostly irrelevant as long as it is not too small).
  */
object GraftSession {

  def builder(
      appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
  ): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(new GraftExtensions) // graft SQL functions (dot_product, simhash, ...)
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // standard micros instead of deprecated INT96: smaller files, and
      // written timestamps carry real footer statistics (the Iceberg
      // commit path reads bounds straight from footers — INT96 has no
      // usable stats and forces the grouped-aggregation fallback job)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // unfiltered MIN/MAX/COUNT probes answer from parquet footers
      // instead of scanning (the lifecycle queries derive their
      // predicate bands from corpus min/max before every DML step)
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Spark keeps 100 generated classes per JVM by default. A first
      // Synthea day (18 tables through repair, clean and mart; 120
      // patients) compiles 260 classes and the SCD2 day's mart 210 more,
      // so at 100 every later day recompiled what an earlier one built
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Persistent-catalog builder: `saveAsTable` registrations outlive the
    * SparkSession, the role the Glue Data Catalog plays in the reference
    * (tables written by the Glue jobs are queryable later, by name, from
    * Athena — Raw_To_Staging.py:174-180, Patient_datamart.py:226-230).
    *
    * Implementation is the stock Spark one: Hive catalog
    * (`enableHiveSupport`) over an embedded Derby metastore rooted inside
    * `warehouse`, so a *new* session pointed at the same warehouse sees
    * every table (`spark.table("fact_patient")`) with no re-registration.
    * On a real cluster the same builder works unchanged against a shared
    * metastore/Glue endpoint — only the ConnectionURL differs.
    *
    * Note: the catalog implementation is fixed per JVM SparkContext, so a
    * process mixing `get()` and `persistent()` keeps whichever came first.
    */
  def persistentBuilder(appName: String, warehouse: String): SparkSession.Builder =
    builder(appName)
      .config("spark.sql.warehouse.dir", s"$warehouse/tables")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$warehouse/metastore_db;create=true")
      .enableHiveSupport()

  def persistent(appName: String, warehouse: String): SparkSession = {
    val spark = persistentBuilder(appName, warehouse).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
