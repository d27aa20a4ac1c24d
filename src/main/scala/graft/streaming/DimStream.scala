package graft.streaming

import graft.io.{Readers, Writers}
import graft.io.lake.VersionedDir
import graft.ops.Scd2
import graft.pipeline.{Clock, SystemClock}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SCD2 dimension maintenance: a stream of dimension updates is
  * merged into a persisted dim with the same hash-diff semantics as the
  * batch [[graft.ops.Scd2]] — the streaming twin of the reference's core
  * operator, via foreachBatch (the standard pattern for merge-shaped sinks
  * that Structured Streaming's append/update modes can't express).
  *
  * EXACTLY-ONCE: the SCD2 merge is NOT idempotent under replay — the
  * faithful semantics drop closed-out history rows whose keys aren't in
  * the batch's changed set (the reference's own quirk, kept faithfully:
  * `Patient_datamart.py:83-84` filters `is_active` after the anti-join),
  * so re-running a replayed batch against the already-merged dim LOSES
  * HISTORY. The sink therefore uses [[AggStream]]'s committed-version
  * layout: each batch merges the current pointer-resolved version into an
  * immutable `v<batchId>` directory, then atomically swaps `_CURRENT`; a
  * replayed id (≤ current) is detected and SKIPPED instead of re-merged.
  * This also closes the old two-phase-overwrite crash hole (a crash
  * mid-overwrite could destroy the only copy of the dim — now the
  * previous version is never touched in place).
  * StreamingCrashSpec injects the crash window and proves convergence.
  */
object DimStream {

  /** The committed dim version dir, or None before the first commit. */
  def currentDimDir(spark: SparkSession, dimPath: String): Option[String] =
    VersionedDir.current(spark.sparkContext.hadoopConfiguration, dimPath)

  /** Read the current committed dim (pointer-resolved). */
  def readDim(spark: SparkSession, dimPath: String): DataFrame =
    currentDimDir(spark, dimPath)
      .map(d => Readers.parquet(spark, d))
      .getOrElse(throw new IllegalStateException(s"no committed dim under $dimPath"))

  /** `clockForBatch` maps the micro-batch id to the merge clock — real
    * deployments pass a constant SystemClock; replayable tests/oracles pin
    * one FixedClock per batch (load date semantics, same as running the
    * batch merge once per arrival). `postCommitHook` fires after the
    * version commit, before the checkpoint commit — the crash window
    * (a throwing hook forces the replay the batchId guard must skip). */
  def scd2Sink(
      spark: SparkSession,
      updates: DataFrame,
      spec: Scd2.Scd2Spec,
      dimPath: String,
      checkpoint: String,
      clockForBatch: Long => Clock = _ => SystemClock,
      faithful: Boolean = true,
      postCommitHook: Long => Unit = _ => (),
      retainVersions: Int = 2
  ): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val batch = BatchTuning.rightSize(batch0)
        if (!batch.isEmpty)
          VersionedDir.commit(spark.sparkContext.hadoopConfiguration, dimPath,
              batchId, retainVersions) { (cur, next) =>
            val clock = clockForBatch(batchId)
            val deduped = batch.dropDuplicates(spec.keyCols)
            val existing = cur.map(d => Readers.parquet(spark, d))
            val merged =
              if (faithful) Scd2.faithful(deduped, existing, spec, clock)
              else Scd2.idiomatic(deduped, existing, spec, clock)
            // overwrite: a crash-before-swap replay rewrites the same dir
            // deterministically
            Writers.parquet(merged, next)
          }
        postCommitHook(batchId)
        () // foreachBatch wants a Unit-returning function
      }
      .start()
}
