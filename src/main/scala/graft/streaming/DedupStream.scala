package graft.streaming

import graft.functions.{MinHash, TextFunctions}
import graft.io.{IcebergInterop, IcebergWrite}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** INCREMENTAL near-dup DEDUP of a document stream — the streaming
  * composition of the batch MinHash+LSH machinery
  * ([[graft.operators.Dedup]], reference scope: the Raw→Staging
  * distinct pass generalized to fuzzy identity) with the exactly-once
  * Iceberg plane: the survivor corpus AND the signature state are both
  * native Iceberg tables, so the dedup state is restartable,
  * inspectable with plain SQL, time-travelable, and compactable by
  * the standard maintenance loop.
  *
  * Per micro-batch:
  *   1. each incoming doc gets its LSH BAND KEYS (MinHash over
  *      character shingles — the q27/q28 signature, band index baked
  *      into the key);
  *   2. a doc DROPS when any band key collides with a PRIOR
  *      SURVIVOR's key (one semi-join against the signature table),
  *      or with a smaller-id doc of its OWN batch sharing a key
  *      (bucket-local min-id suppression — deterministic and
  *      non-iterative BY DESIGN: the suppressor's own fate does not
  *      re-admit the suppressed, the documented approximation that
  *      keeps the rule replayable without sequential iteration);
  *   3. survivors append EXACTLY-ONCE to the corpus table and their
  *      band keys to the signature table — two ledgered commits under
  *      distinct appIds, so a crash between them replays only the
  *      missing half on restart.
  *
  * 100 TB shape: per batch the work is the batch's own signatures
  * (codegen MinHashSig), the collision probe, and two metadata-sized
  * commits. With `stateBuckets > 0` the signature table is laid out
  * `bucket[N](band_key)` (hidden-transform partitioned appends — one
  * manifest per bucket per batch), and the probe PRUNES: the batch's
  * distinct band keys map through the spec's murmur3 at the
  * MANIFEST level, so the state-side scan opens only the buckets the
  * batch actually touches — per-batch probe I/O is bounded by the
  * batch's bucket fan-out, not the state size. A batch whose distinct
  * keys exceed `probeKeyCap` touches (nearly) every bucket anyway and
  * falls back to the full scan — the cap bounds DRIVER memory by the
  * batch, never the state. The signature table grows as
  * survivors × bands rows — compact it per-partition with the q196
  * maintenance loop ([[IcebergWrite.compact]] preserves the spec). */
object DedupStream {

  /** (kept, pruned) data files of the last state probe — same
    * single-threaded test-introspection contract as
    * [[IcebergInterop.lastManifestScan]]. */
  @volatile private[graft] var lastProbeFiles: (Int, Int) = (0, 0)
  @volatile private[graft] var lastProbeManifests: (Int, Int) = (0, 0)

  def dedupSink(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      corpusDir: String,
      sigDir: String,
      appId: String,
      checkpoint: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      // > 0: bucket[N](band_key) signature-table layout + manifest-
      // pruned probes; 0 keeps the unpartitioned layout
      stateBuckets: Int = 0,
      probeKeyCap: Int = 100000,
      postCommitHook: (Long, Long) => Unit = (_, _) => ()
  ): StreamingQuery = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val rowsPerBand = numHashes / bands
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val batch = BatchTuning.rightSize(batch0)
        if (!batch.isEmpty) {
          // (id, band_key) per doc; docs too short to shingle get no
          // keys and can never collide — they always survive
          val keyed = TextFunctions.withShingles(batch, textCol, "__sh", shingleSize)
            .withColumn("__sig", MinHash.signature(col("__sh"), numHashes))
            .select(col(idCol),
              explode_outer(MinHash.bandKeys(col("__sig"), bands, rowsPerBand))
                .as("band_key"))
            .filter(col("band_key").isNotNull)
            .localCheckpoint(false) // collision + state append read it
          // collisions with PRIOR survivors — with buckets, a PRUNED
          // scan of exactly the state buckets this batch's keys hash to
          val stateDrops =
            if (!IcebergWrite.tableExists(spark, sigDir))
              batch.limit(0).select(col(idCol))
            else {
              val state =
                if (stateBuckets <= 0) IcebergInterop.readIceberg(spark, sigDir)
                else {
                  val ks = keyed.select(col("band_key")).distinct()
                    .limit(probeKeyCap + 1).collect().map(_.getString(0))
                  if (ks.length > probeKeyCap) // touches every bucket anyway
                    IcebergInterop.readIceberg(spark, sigDir)
                  else IcebergInterop.readIceberg(spark, sigDir,
                    stringIn = Map("band_key" -> ks.toSet))
                }
              lastProbeFiles = IcebergInterop.lastDataFileScan
              lastProbeManifests = IcebergInterop.lastManifestScan
              keyed.join(state.select(col("band_key")),
                Seq("band_key"), "left_semi").select(col(idCol))
            }
          // bucket-local suppression within the batch: min id per key
          // wins, larger ids sharing the key drop
          val wb = Window.partitionBy(col("band_key"))
          val batchDrops = keyed
            .withColumn("__min", min(col(idCol)).over(wb))
            .filter(col(idCol) > col("__min"))
            .select(col(idCol))
          val dropped = stateDrops.unionByName(batchDrops).distinct()
            .localCheckpoint(false)
          // survivors are NOT materialized separately: the corpus
          // staging write computes the anti-join itself (one pass over
          // batch + checkpointed dropped instead of a checkpoint pass
          // plus a re-read — guide §1.2, fewer per-batch actions)
          val survivors = batch.join(dropped, Seq(idCol), "left_anti")
          val sigRows = keyed.join(dropped, Seq(idCol), "left_anti")
            .select(col(idCol), col("band_key"))
          // exactly-once on BOTH tables: distinct appIds, so a crash
          // at any point replays only the missing half on restart —
          // the two ledgers are INDEPENDENT tables, so their staging
          // jobs and commit latencies overlap on two driver threads
          // (guide §2.6; each appId's txn watermark is its own)
          val (sCorpus, sSig) = graft.pipeline.Par.both(
            IcebergWrite.appendOnce(survivors, corpusDir, s"$appId-corpus", batchId),
            if (stateBuckets <= 0)
              IcebergWrite.appendOnce(sigRows, sigDir, s"$appId-sig", batchId)
            else IcebergWrite.appendPartitioned(sigRows, sigDir,
              Seq(("band_key", s"bucket[$stateBuckets]")),
              txn = Some((s"$appId-sig", batchId)),
              // ONE file per touched bucket per batch — the state
              // table must not fragment into tasks × buckets shards
              clusterBySpec = true))
          postCommitHook(sCorpus, sSig)
        }
      }
      .start()
  }
}
