package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters for
  * graft's custom Catalyst expressions. Lives in the org.apache.spark.sql
  * package purely for access; the public Spark 4 API routes Column
  * construction through ColumnNodes, and `classic.ExpressionUtils` is the
  * supported internal path for classic-mode extensions. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed-side logical plan of a DataFrame — what a
    * table-valued-function builder must return (the TVF's "body"). */
  def plan(df: Dataset[Row]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** A serializable wrapper around the session's Hadoop configuration
    * — what an executor-side metadata read (distributed manifest
    * parsing) needs; the class is `private[spark]`, hence bridged. */
  def serializableConf(spark: SparkSession)
      : org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)

  /** The session's catalog — used to resolve `[db.]table` names to
    * graft-Delta locations and to register catalog entries without
    * routing through SQL statements (which our own parser intercepts). */
  def sessionCatalog(spark: SparkSession): org.apache.spark.sql.catalyst.catalog.SessionCatalog =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog

  /** Mark every file relation leaf of `df`'s plan streaming — the shape a
    * DSv1 `Source.getBatch` must return (MicroBatchExecution asserts
    * `batch.isStreaming` before splicing the plan in place of the
    * StreamingExecutionRelation leaf). The plan itself still executes as
    * the batch it is; only the flag changes, so Catalyst keeps the file
    * scan (pushdown, pruning) intact — the same trick delta-spark's
    * DeltaSource uses via `DeltaLog.createDataFrame(isStreaming=true)`. */
  def asStreamingBatch(df: Dataset[Row]): Dataset[Row] = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val plan = cdf.logicalPlan.transform {
      case lr: LogicalRelation if !lr.isStreaming => lr.copy(isStreaming = true)
    }
    val out = classic.Dataset.ofRows(cdf.sparkSession, plan)
    require(out.isStreaming,
      "asStreamingBatch: no file relation leaf found to mark streaming")
    out
  }

  /** An empty DataFrame with `schema` whose plan reports isStreaming —
    * the zero-files micro-batch of a DSv1 source. */
  def emptyStreamingBatch(spark: SparkSession, schema: StructType): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), Nil, isStreaming = true))

  /** The Hadoop configuration a file scan of this session reads with. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Spark's own rule for names a file listing skips (`_SUCCESS`,
    * `.crc` siblings, `._COPYING_`), keeping parquet summary files. */
  def isHiddenPath(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The one file `lines` scans when its plan is a bare text scan of a
    * single file (`spark.read.textFile(file)`, default line splitting);
    * None for any other plan. */
  def textFileOf(lines: Dataset[String]): Option[FileStatus] = {
    val plan = lines.asInstanceOf[classic.Dataset[String]].logicalPlan match {
      case Project(Seq(_: Attribute), child) => child
      case other => other
    }
    plan match {
      case lr: LogicalRelation => lr.relation match {
        case HadoopFsRelation(index: PartitioningAwareFileIndex, partitionSchema, _, None,
                              _: TextFileFormat, options)
            if partitionSchema.isEmpty &&
              !options.keys.exists(k => Set("linesep", "wholetext")(k.toLowerCase)) =>
          index.allFiles() match {
            case Seq(f) => Some(f)
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }
  }
}
