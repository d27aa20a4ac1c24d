package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import graft.io.DeltaInterop
import graft.io.DeltaInterop.{AddFile, CommitActions, DeltaState}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles, SupportsAdmissionControl, Offset => ConnectorOffset}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Offset of the graft-delta streaming SOURCE: a position in the
  * linearized file stream `initial-snapshot files ++ per-commit adds`.
  *
  *   - `starting = true`: still emitting the stream-start snapshot;
  *     `version` is the snapshot version, `index` counts snapshot files
  *     (path-sorted — the deterministic enumeration replays give) already
  *     emitted.
  *   - `starting = false`: tailing the log; `version` is the commit being
  *     consumed, `index` counts its dataChange adds already emitted.
  *
  * Total order: (version, index), with a starting offset sorting before
  * the tail of the same table because tail versions are strictly greater
  * than the snapshot version (or, with `startingVersion`, no snapshot
  * phase exists at all). */
final case class DeltaSourceOffset(version: Long, index: Int, starting: Boolean)
    extends V1Offset {
  override def json: String =
    s"""{"version":$version,"index":$index,"starting":$starting}"""
}

object DeltaSourceOffset {
  private val M = new ObjectMapper()
  /** Restart path: Spark hands back checkpointed offsets as raw-JSON
    * SerializedOffset wrappers — rehydrate by json, not by class. */
  def from(o: ConnectorOffset): DeltaSourceOffset = o match {
    case d: DeltaSourceOffset => d
    case other =>
      val n = M.readTree(other.json)
      DeltaSourceOffset(n.get("version").asLong, n.get("index").asInt,
        n.get("starting").asBoolean)
  }
}

/** Structured-streaming SOURCE over a graft-delta table — the read half
  * of [[DeltaStream]]'s exactly-once sink, closing the "sink only"
  * carve-out. `spark.readStream.format("graft-delta").load(dir)` emits
  * the stream-start snapshot once, then tails the `_delta_log` commit by
  * commit, delivering each version's dataChange adds exactly once (the
  * offset log + the deterministic log enumeration make replays
  * idempotent; a deterministic sink gets end-to-end exactly-once).
  *
  * Options (delta-spark's names and semantics):
  *   - `maxFilesPerTrigger`: admission-controlled rate limit — micro-
  *     batches cut the linearized file stream every N files;
  *   - `startingVersion` = N | "earliest": skip the snapshot and replay
  *     the add stream from commit N (0 for earliest) — requires those
  *     commits to still exist (a cleaned log cannot be replayed);
  *   - `ignoreDeletes`: tolerate delete-ONLY commits (partition
  *     retention jobs); `ignoreChanges`: additionally tolerate commits
  *     that rewrite files (UPDATE/MERGE/DELETE copy-on-write) by
  *     re-emitting their adds — downstream sees reprocessed rows, the
  *     documented Delta tradeoff. Without them a data-changing remove
  *     fails the stream (the default, loudly correct posture).
  *
  * Scale shape: every micro-batch is a normal pruned parquet scan of
  * exactly the batch's files (DV masks and column mapping included —
  * the batch plan is [[DeltaInterop.readSubset]]'s), offsets are
  * metadata-sized, and the only driver work per trigger is one log
  * listing plus parsing the new commits — 100 TB tables tail at the
  * cost of their CHANGES, never their size.
  *
  * Non-data commits (checkpoint/txn/dataChange=false OPTIMIZE rewrites)
  * advance the offset without emitting rows. A schema change AFTER the
  * stream's lock version fails the stream with a restart hint, exactly
  * delta-spark's contract; metaData actions at or below the lock
  * version (the historical evolution the snapshot already reflects)
  * replay silently — old files null-fill the locked schema's added
  * columns. */
final class DeltaSource(spark: SparkSession, dir: String, metadataPath: String,
                        options: Map[String, String])
    extends Source with SupportsAdmissionControl {

  private val opts = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
  private val maxFiles: Option[Int] = opts.get("maxfilespertrigger").map { v =>
    val n = v.toInt; require(n > 0, s"maxFilesPerTrigger must be positive, got $n"); n
  }
  private val ignoreChanges = opts.get("ignorechanges").exists(_.toBoolean)
  private val ignoreDeletes = opts.get("ignoredeletes").exists(_.toBoolean)
  /** CDF mode (`readChangeFeed=true`): emit CHANGE rows — the table
    * schema plus `_change_type`/`_commit_version`/`_commit_timestamp`.
    * The snapshot phase emits as `insert`s; tail commits emit their
    * `_change_data` files when present, derived inserts otherwise, and
    * rows-changed-without-CDC commits fail the stream (the batch
    * [[DeltaInterop.readChangeFeed]] contract, streamed). */
  private val cdf = opts.get("readchangefeed").exists(_.toBoolean)

  private val M = new ObjectMapper()

  /** Durable stream origin, fixed at FIRST start and restored on every
    * restart (so a crash before the first offset commits cannot shift
    * the snapshot boundary): either Left(snapshotVersion) — emit that
    * snapshot, then tail — or Right(startingVersion) — tail only.
    * `lockVersion` pins the schema epoch both modes read with. */
  private case class Origin(mode: String, version: Long, lockVersion: Long)

  private val origin: Origin = {
    val f = new Path(metadataPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(metadataPath, "graft-delta-origin.json")
    if (f.exists(p)) {
      val in = f.open(p)
      val n = try M.readTree(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
              finally in.close()
      Origin(n.get("mode").asText, n.get("version").asLong, n.get("lockVersion").asLong)
    } else {
      val latest = DeltaInterop.latestVersion(spark, dir)
      require(latest >= 0, s"no Delta log under $dir")
      val o = opts.get("startingversion") match {
        case Some("earliest") => Origin("tail", 0L, latest)
        case Some(v) =>
          val n = v.toLong
          require(n >= 0 && n <= latest + 1, s"startingVersion $n outside [0, ${latest + 1}]")
          Origin("tail", n, latest)
        case None => Origin("snapshot", latest, latest)
      }
      f.mkdirs(new Path(metadataPath))
      val tmp = new Path(metadataPath, s".graft-delta-origin.${java.util.UUID.randomUUID}.tmp")
      val out = f.create(tmp, false)
      try out.write(
        s"""{"mode":"${o.mode}","version":${o.version},"lockVersion":${o.lockVersion}}"""
          .getBytes("UTF-8"))
      finally out.close()
      if (!graft.io.lake.Staging.putIfAbsent(f, tmp, p)) {
        // lost a creation race: the winner's origin stands
        val in = f.open(p)
        val n = try M.readTree(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
                finally in.close()
        Origin(n.get("mode").asText, n.get("version").asLong, n.get("lockVersion").asLong)
      } else o
    }
  }

  /** Schema epoch every batch reads with. */
  private val lockedState: DeltaState = DeltaInterop.state(spark, dir, Some(origin.lockVersion))
  /** Path-sorted snapshot enumeration (empty in tail-only mode). */
  private val snapFiles: IndexedSeq[AddFile] =
    if (origin.mode == "snapshot") lockedState.files.sortBy(_.path).toIndexedSeq
    else IndexedSeq.empty
  private def firstTailVersion: Long =
    if (origin.mode == "snapshot") origin.version + 1 else origin.version

  override def schema: StructType =
    if (!cdf) lockedState.schema
    else StructType(lockedState.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType)))

  // per-version parsed commits — metadata-sized, pruned as batches commit
  private val commitCache = scala.collection.mutable.HashMap.empty[Long, CommitActions]

  private def actionsOf(v: Long): CommitActions =
    synchronized(commitCache.getOrElseUpdate(v, DeltaInterop.commitActions(spark, dir, v)))

  /** Commit `v`'s emittable UNITS (the rate-limit granularity), after
    * the tailer's validation gates: data adds normally; in CDF mode the
    * commit's `_change_data` files when it has them. */
  private def dcAdds(v: Long): Seq[AddFile] = {
    val ca = actionsOf(v)
    ca.minReader.foreach(r => require(r <= 3,
      s"commit $v needs minReaderVersion $r; this source reads up to 3"))
    ca.schemaChange.foreach { s =>
      if (v > origin.lockVersion && s != lockedState.schema.json)
        throw new IllegalStateException(
          s"schema changed at version $v of $dir — restart the stream (new checkpoint) to pick it up")
    }
    if (cdf) {
      if (ca.cdcs.nonEmpty) return ca.cdcs
      if (ca.removesDataChange)
        throw new IllegalStateException(
          s"version $v of $dir removed data without change data — " +
          "enable delta.enableChangeDataFeed before row-level operations to stream them")
      return ca.adds.collect { case (a, true) => a }
    }
    if (ca.removesDataChange && !ignoreChanges &&
        !(ignoreDeletes && ca.adds.forall(!_._2)))
      throw new IllegalStateException(
        s"version $v of $dir removed data files (UPDATE/DELETE/MERGE?); " +
        "set ignoreDeletes (delete-only commits) or ignoreChanges (re-emit rewrites) to proceed")
    ca.adds.collect { case (a, true) => a }
  }

  /** Walk forward from `prev` consuming up to `budget` files; the new
    * offset, or `prev` when the head brings nothing new. */
  private def advance(prev: Option[DeltaSourceOffset],
                      budget: Option[Int]): Option[DeltaSourceOffset] = {
    var remaining = budget.getOrElse(Int.MaxValue)
    var cur = prev
    if (origin.mode == "snapshot" && prev.forall(_.starting)) {
      val idx = prev.map(_.index).getOrElse(0)
      if (idx < snapFiles.length) {
        val take = math.min(remaining, snapFiles.length - idx)
        cur = Some(DeltaSourceOffset(origin.version, idx + take, starting = true))
        remaining -= take
        if (idx + take < snapFiles.length) return cur
      } else if (cur.isEmpty)
        cur = Some(DeltaSourceOffset(origin.version, 0, starting = true))
    }
    val latest = DeltaInterop.latestVersion(spark, dir)
    var v = cur match {
      case Some(o) if !o.starting =>
        val n = dcAdds(o.version).length
        if (o.index < n && remaining > 0) {
          val take = math.min(remaining, n - o.index)
          cur = Some(DeltaSourceOffset(o.version, o.index + take, starting = false))
          remaining -= take
          if (o.index + take < n) return cur
        }
        o.version + 1
      case Some(o) => o.version + 1 // snapshot complete
      case None => firstTailVersion // tail-only, nothing consumed yet
    }
    while (v <= latest && remaining > 0) {
      val n = dcAdds(v).length
      val take = math.min(remaining, n)
      cur = Some(DeltaSourceOffset(v, take, starting = false))
      remaining -= take
      if (take < n) return cur
      v += 1
    }
    cur
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFiles.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: ConnectorOffset, limit: ReadLimit): ConnectorOffset = {
    val prev = Option(start).map(DeltaSourceOffset.from)
    val budget = limit match {
      case m: ReadMaxFiles => Some(m.maxFiles)
      case _ => None
    }
    advance(prev, budget).orNull
  }

  override def getOffset: Option[V1Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** Files in the linearized stream strictly after `start`, up to and
    * including `end` — the deterministic replay unit. Tail files come
    * grouped by version (CDF batches stamp per-version columns). */
  private def filesBetween(start: Option[DeltaSourceOffset],
                           end: DeltaSourceOffset): (Seq[AddFile], Seq[(Long, Seq[AddFile])]) = {
    val snapPart: Seq[AddFile] =
      if (origin.mode == "snapshot" && start.forall(_.starting)) {
        val from = start.map(_.index).getOrElse(0)
        val to = if (end.starting) end.index else snapFiles.length
        snapFiles.slice(from, to)
      } else Seq.empty
    val tailPart: Seq[(Long, Seq[AddFile])] =
      if (end.starting) Seq.empty
      else {
        val (fromV, fromIdx) = start match {
          case Some(o) if !o.starting => (o.version, o.index)
          case Some(o) => (o.version + 1, 0)
          case None => (firstTailVersion, 0)
        }
        (fromV to end.version).map { v =>
          val files = dcAdds(v)
          val lo = if (v == fromV) fromIdx else 0
          val hi = if (v == end.version) end.index else files.length
          v -> files.slice(lo, hi)
        }.filter(_._2.nonEmpty)
      }
    (snapPart, tailPart)
  }

  /** The commit's effective timestamp — the in-commit
    * commitInfo.timestamp with mtime fallback, the SAME clock as
    * timestamp time travel and the batch change feed (mtimes don't
    * survive table copies; the three surfaces must agree). */
  private def commitTs(v: Long): java.sql.Timestamp =
    new java.sql.Timestamp(DeltaInterop.commitMeta(spark, dir, v).timestamp)

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val endO = DeltaSourceOffset.from(end)
    val startO = start.map(DeltaSourceOffset.from)
    val (snapPart, tailPart) = filesBetween(startO, endO)
    val parts: Seq[DataFrame] =
      if (!cdf)
        Seq(snapPart, tailPart.flatMap(_._2)).filter(_.nonEmpty)
          .map(fl => DeltaInterop.readSubset(spark, dir, lockedState, fl))
      else {
        val outCols = schema.fieldNames.map(col)
        val snap =
          if (snapPart.isEmpty) Seq.empty
          else Seq(DeltaInterop.readSubset(spark, dir, lockedState, snapPart)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(origin.version))
            .withColumn("_commit_timestamp", lit(commitTs(origin.version))))
        val tail = tailPart.map { case (v, fl) =>
          val base =
            if (actionsOf(v).cdcs.nonEmpty)
              DeltaInterop.readCdcFiles(spark, dir, lockedState, fl)
            else DeltaInterop.readSubset(spark, dir, lockedState, fl)
              .withColumn("_change_type", lit("insert"))
          base.withColumn("_commit_version", lit(v))
            .withColumn("_commit_timestamp", lit(commitTs(v)))
        }
        (snap ++ tail).map(_.select(outCols: _*))
      }
    if (parts.isEmpty) GraftBridge.emptyStreamingBatch(spark, schema)
    else GraftBridge.asStreamingBatch(parts.reduce(_ unionByName _))
  }

  override def commit(end: V1Offset): Unit = {
    val o = DeltaSourceOffset.from(end)
    synchronized { commitCache.filterInPlace((v, _) => v >= o.version) }
  }

  override def stop(): Unit = ()

  override def toString: String = s"DeltaSource[$dir]"
}

/** `spark.readStream.format("graft-delta").load(path)` — registered via
  * META-INF/services under the short name, like any Spark connector. */
final class DeltaSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-delta"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-delta source needs a path: .load(dir)"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse(
      DeltaInterop.state(sqlContext.sparkSession, pathOf(parameters)).schema)
    val cdf = parameters.exists { case (k, v) =>
      k.equalsIgnoreCase("readChangeFeed") && v.toBoolean
    }
    val full =
      if (!cdf) base
      else StructType(base.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType)))
    (shortName(), full)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new DeltaSource(sqlContext.sparkSession, pathOf(parameters), metadataPath, parameters)
}
