package graft.streaming

import graft.io.{Readers, Writers}
import graft.io.lake.VersionedDir
import graft.ops.IncrementalAgg
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming materialized-view maintenance: each micro-batch of raw rows
  * folds into a persisted per-key aggregate state via
  * [[graft.ops.IncrementalAgg]] — the streaming twin of q74's batch
  * refresh, through foreachBatch for the same reason as [[DimStream]]
  * (a merge-shaped sink that append/update output modes can't express).
  *
  * Because the state is a commutative monoid (counts + sums), the merge
  * is insensitive to batch boundaries: ANY partitioning of the input
  * stream into micro-batches lands the same state as one batch build —
  * which is exactly what the oracle gate checks.
  *
  * EXACTLY-ONCE: foreachBatch is at-least-once — a batch can replay after
  * a crash between the sink's side effect and the checkpoint commit. The
  * sink is therefore idempotent BY CONSTRUCTION, the pattern Spark's own
  * foreachBatch docs prescribe:
  *   - every committed state version is an immutable directory
  *     `<statePath>/v<batchId>`; the version name IS the last-applied
  *     batch id, so a replayed id (<= current) is detected and skipped
  *     instead of re-folded into the non-idempotent monoid merge;
  *   - commit = writing the new version dir, THEN atomically swapping the
  *     `_CURRENT` pointer file (FileContext rename with OVERWRITE — atomic
  *     on HDFS and local). A crash mid-write leaves the pointer on the old
  *     version; accumulated state is never destroyed in place.
  * Lifecycle note: batch ids restart at 0 with a FRESH checkpoint, so
  * state and checkpoint must be retired together (true of any
  * batchId-keyed idempotent sink).
  */
object AggStream {

  /** The committed state version dir, or None before the first commit. */
  def currentStateDir(spark: SparkSession, statePath: String): Option[String] =
    VersionedDir.current(spark.sparkContext.hadoopConfiguration, statePath)

  /** Read the current committed state (pointer-resolved).
    *
    * Reader contract: the returned DataFrame is LAZY — it resolves
    * `_CURRENT` now but reads files at action time. Materialize promptly
    * (or raise `retainVersions`): a plan held across more than
    * `retainVersions − 1` later commits scans a GC'd directory. */
  def readState(spark: SparkSession, statePath: String): DataFrame =
    currentStateDir(spark, statePath)
      .map(d => Readers.parquet(spark, d))
      .getOrElse(throw new IllegalStateException(s"no committed state under $statePath"))

  /** `retainVersions`: how many committed version dirs survive GC (newest
    * first, the committed one included) — the time-travel/laggard-reader
    * window, same knob shape as the streaming state store's
    * minVersionsToRetain. Minimum 2: the new version plus its
    * predecessor, so a reader that resolved the old pointer just before
    * the swap still scans an existing directory. */
  /** `postCommitHook` fires after the sink's full side effect (state dir +
    * pointer swap) but BEFORE foreachBatch returns — i.e. before the
    * checkpoint offset commit. A hook that throws simulates the crash
    * window exactly-once sinks must survive: the batch replays on restart
    * and the batchId guard must skip it (StreamingCrashSpec). */
  def incrementalSink(
      spark: SparkSession,
      updates: DataFrame,
      keys: Seq[String],
      measures: Seq[String],
      statePath: String,
      checkpoint: String,
      retainVersions: Int = 2,
      postCommitHook: Long => Unit = _ => ()
  ): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val batch = BatchTuning.rightSize(batch0)
        if (!batch.isEmpty)
          VersionedDir.commit(spark.sparkContext.hadoopConfiguration, statePath,
              batchId, retainVersions) { (cur, next) =>
            val merged = cur match {
              case Some(d) => IncrementalAgg.merge(Readers.parquet(spark, d), batch, keys, measures)
              case None    => IncrementalAgg.build(batch, keys, measures)
            }
            Writers.parquet(merged, next)
          }
        postCommitHook(batchId)
        ()
      }
      .start()
}
