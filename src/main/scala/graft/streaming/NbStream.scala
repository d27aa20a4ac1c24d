package graft.streaming

import graft.io.Readers
import graft.operators.LangModel
import graft.operators.LangModel.NbLangModel
import graft.io.lake.VersionedDir
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.charset.StandardCharsets

/** Streaming INCREMENTAL classifier training: labeled documents arrive
  * as micro-batches, each batch trains an independent partial NB model
  * (one distributed gram aggregate — [[LangModel.train]]), and the
  * partial FOLDS into persisted model state via [[LangModel.merge]] —
  * which is exact, because the NB state is a monoid (spec-proven:
  * shard-training ≡ full-training bit-for-bit). The streaming twin of
  * the q135 batch trainer, closing the training loop the same way
  * [[AggStream]] closes aggregate maintenance and [[AnnStream]] closes
  * index maintenance.
  *
  * Exactly-once: the same committed-version layout as the other sinks —
  * immutable `v<batchId>` dirs, atomic `_CURRENT` pointer swap, replayed
  * batch ids (≤ last applied) SKIPPED instead of re-merged into the
  * non-idempotent fold, `retainVersions` GC, `postCommitHook` crash
  * window for the injection specs.
  *
  * Scale shape: each batch's gram aggregate is distributed with map-side
  * combine; only MODEL-sized state (vocab × L counts — the same
  * fits-in-memory contract as the centroid matrices) moves through the
  * driver per commit, independent of batch row count. Model state
  * persists as parquet (gram count rows + label rows) plus a `_META`
  * JSON for (n, hashBits), so the committed model is itself a plain
  * table any engine can read.
  */
object NbStream {

  /** Persist a model as a version dir: `counts/` (gram, lang, cnt),
    * `labels/` (lang, docs), `_META` (n, hashBits). Totals and vocab
    * re-derive on read — they are functions of the counts. */
  def writeModel(spark: SparkSession, model: NbLangModel, dir: String): Unit = {
    import spark.implicits._
    val countRows = model.counts.toSeq.flatMap { case (g, cs) =>
      model.langs.zipWithIndex.collect {
        case (l, i) if cs(i) > 0 => (g, l, cs(i))
      }
    }
    // Overwrite, not ErrorIfExists: a crash between writeModel and the
    // _CURRENT pointer swap leaves a partial v<batchId> dir, and the
    // replayed batch (batchId > lastId) must be able to rewrite it —
    // the same recovery contract as AggStream's Writers.parquet sink.
    countRows.toDF("gram", "lang", "cnt")
      .repartition(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/counts")
    model.langs.map(l => (l, model.docCounts.getOrElse(l, 0L)))
      .toDF("lang", "docs").repartition(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/labels")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(dir, "_META"), true)
    try out.write(s"""{"n":${model.n},"hashBits":${model.hashBits}}"""
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Rebuild a model from a version dir (inverse of [[writeModel]]). */
  def readModel(spark: SparkSession, dir: String): NbLangModel = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(dir, "_META"))
    val meta =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(meta)
    val labelRows = Readers.parquet(spark, s"$dir/labels")
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val langs = labelRows.map(_._1).toSeq.sorted
    val langIdx = langs.zipWithIndex.toMap
    val table = scala.collection.mutable.HashMap.empty[String, Array[Long]]
    Readers.parquet(spark, s"$dir/counts").collect().foreach { r =>
      val arr = table.getOrElseUpdate(r.getString(0), new Array[Long](langs.length))
      arr(langIdx(r.getString(1))) = r.getLong(2)
    }
    val totals = langs.map { l =>
      val i = langIdx(l)
      l -> table.valuesIterator.map(_(i)).sum
    }.toMap
    NbLangModel(langs, labelRows.toMap, totals, table.size.toLong, table.toMap,
      node.get("n").asInt, node.get("hashBits").asInt)
  }

  /** The committed model version dir, or None before the first commit. */
  def currentModelDir(spark: SparkSession, modelPath: String): Option[String] =
    VersionedDir.current(spark.sparkContext.hadoopConfiguration, modelPath)

  /** Read the current committed model (pointer-resolved). */
  def readCurrentModel(spark: SparkSession, modelPath: String): NbLangModel =
    currentModelDir(spark, modelPath)
      .map(d => readModel(spark, d))
      .getOrElse(throw new IllegalStateException(s"no committed model under $modelPath"))

  /** Incremental training sink over a stream of labeled documents. Each
    * micro-batch trains a partial model and folds it into the committed
    * state; empty batches commit nothing. Same crash contract as
    * [[AggStream.incrementalSink]]. */
  def trainingSink(
      spark: SparkSession,
      docs: DataFrame,
      textCol: String,
      labelCol: String,
      modelPath: String,
      checkpoint: String,
      n: Int = 3,
      hashBits: Int = 0,
      retainVersions: Int = 2,
      postCommitHook: Long => Unit = _ => (),
      preSwapHook: Long => Unit = _ => ()
  ): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val batch = BatchTuning.rightSize(batch0)
        if (!batch.isEmpty)
          VersionedDir.commit(spark.sparkContext.hadoopConfiguration, modelPath,
              batchId, retainVersions) { (cur, next) =>
            val partial = LangModel.train(batch, textCol, labelCol, n, hashBits = hashBits)
            val merged = cur match {
              case Some(d) => LangModel.merge(readModel(spark, d), partial)
              case None    => partial
            }
            writeModel(spark, merged, next)
            // crash-injection seam: a failure HERE leaves a complete or
            // partial v<batchId> dir with no pointer — the replay must
            // rewrite it (writeModel overwrites) and then swap
            preSwapHook(batchId)
          }
        postCommitHook(batchId)
      }
      .start()
}
