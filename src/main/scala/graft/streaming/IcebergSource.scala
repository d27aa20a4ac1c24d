package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import graft.io.IcebergInterop
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles, SupportsAdmissionControl, Offset => ConnectorOffset}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{StructField, StructType}

/** Offset of the graft-iceberg streaming SOURCE: a position in the
  * linearized file stream `origin-snapshot files ++ per-snapshot added
  * files`, ordered by the table's SEQUENCE NUMBERS (Iceberg's commit
  * order — snapshot ids are random, sequence numbers are the log).
  *
  *   - `starting = true`: still emitting the stream-origin snapshot;
  *     `seq` is its sequence number, `index` counts its path-sorted
  *     files already emitted.
  *   - `starting = false`: tailing the lineage; `seq` is the snapshot
  *     being consumed, `index` counts its added files already emitted. */
final case class IcebergSourceOffset(seq: Long, index: Int, starting: Boolean)
    extends V1Offset {
  override def json: String =
    s"""{"seq":$seq,"index":$index,"starting":$starting}"""
}

object IcebergSourceOffset {
  private val M = new ObjectMapper()
  def from(o: ConnectorOffset): IcebergSourceOffset = o match {
    case d: IcebergSourceOffset => d
    case other =>
      val n = M.readTree(other.json)
      IcebergSourceOffset(n.get("seq").asLong, n.get("index").asInt,
        n.get("starting").asBoolean)
  }
}

/** Structured-streaming SOURCE over a FOREIGN (or graft-written)
  * Apache Iceberg table — the Iceberg twin of [[DeltaSource]]:
  * `spark.readStream.format("graft-iceberg").load(dir)` emits the
  * stream-origin snapshot once, then TAILS the snapshot lineage in
  * sequence-number order, delivering each append snapshot's added
  * files exactly once (offset log + deterministic path-sorted
  * enumeration ⇒ idempotent replays).
  *
  * Options:
  *   - `maxFilesPerTrigger`: admission-controlled rate limit;
  *   - `ignoreChanges`: tolerate non-append snapshots (overwrite /
  *     replace) by re-emitting their added files — downstream sees
  *     reprocessed rows, the documented tradeoff. Without it a
  *     non-append snapshot fails the stream (loudly correct default);
  *   - `ignoreDeletes`: SKIP delete manifests a tailed snapshot adds
  *     (merge-on-read DELETE/UPDATE commits) — rows already emitted
  *     stay downstream, the same tradeoff Delta's ignoreDeletes makes;
  *   - `startingSnapshotId` = id | "earliest": where the stream
  *     begins (Delta's startingVersion). A snapshot id tails the
  *     lineage STRICTLY AFTER that snapshot with no state backfill;
  *     "earliest" backfills the FIRST snapshot and replays every
  *     append since — full history. Default: backfill the current
  *     snapshot, then tail.
  *
  * Without `ignoreDeletes`, row-level deletes REFUSE in both phases
  * (streaming replays raw files; masked rows would resurrect) — the
  * same carve-out Iceberg's own Spark streaming source makes;
  * compact first.
  *
  * Scale shape: per trigger the driver reads ONE metadata JSON plus
  * the NEW snapshots' own manifests (added_snapshot_id-filtered, so
  * carried-forward manifests are never re-read); each micro-batch is
  * a normal pruned parquet scan of exactly the batch's files with the
  * field-id-pinned schema. A 100 TB table tails at the cost of its
  * CHANGES, never its size. */
final class IcebergSource(spark: SparkSession, dir: String, metadataPath: String,
                          options: Map[String, String])
    extends Source with SupportsAdmissionControl {

  private val opts = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
  private val maxFiles: Option[Int] = opts.get("maxfilespertrigger").map { v =>
    val n = v.toInt; require(n > 0, s"maxFilesPerTrigger must be positive, got $n"); n
  }
  private val ignoreChanges = opts.get("ignorechanges").exists(_.toBoolean)
  private val ignoreDeletes = opts.get("ignoredeletes").exists(_.toBoolean)
  // CHANGELOG mode (Delta's readChangeFeed on the Iceberg plane): each
  // tailed snapshot emits its CHANGE rows — inserts AND preimage
  // deletes resolved through position/equality/DV masks — instead of
  // raw added files, so row-level deletes CONSUME rather than refuse.
  // Offsets advance one UNIT per snapshot (a snapshot's change set is
  // atomic); the origin snapshot backfills as pure inserts.
  private val readChanges = opts.get("readchanges").exists(_.toBoolean)
  // BRANCH-SCOPED tailing (the audit half of write-audit-publish): the
  // stream walks the named branch's ancestry — its staged commits are
  // visible here while a main consumer of the same table sees none of
  // them until publish
  private val branch: Option[String] = opts.get("branch")
  // change rows carry their stable v3 `_row_id` — keyed CDC; the
  // downstream upsert sink can mirror the table by row identity
  private val withLineage = opts.get("lineage").exists(_.toBoolean)
  require(!withLineage || readChanges,
    "option lineage=true requires readChanges=true (ids ride change rows)")
  if (withLineage) require(
    graft.io.IcebergChangelog.isLineageTable(spark, dir),
    s"lineage=true: $dir is not a v3 row-lineage table")

  private val M = new ObjectMapper()

  /** Durable stream origin, fixed at FIRST start (crash-safe: restored
    * from the checkpoint dir on every restart): the origin snapshot's
    * (sequence number, snapshot id), the locked schema JSON, and
    * whether the origin snapshot's own state BACKFILLS (false when
    * `startingSnapshotId` named a snapshot to tail after). */
  private case class Origin(seq: Long, snapshotId: Long, schemaJson: String,
                            backfill: Boolean = true)

  private val origin: Origin = {
    val f = new Path(metadataPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(metadataPath, "graft-iceberg-origin.json")
    def load(): Origin = {
      val in = f.open(p)
      val n = try M.readTree(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
              finally in.close()
      // the checkpointed origin pins the ANCESTRY being tailed: a
      // restart with a different (or newly-absent) branch option would
      // reuse the stored offset against a different snapshot chain and
      // silently mix them — refuse instead. Origins written before the
      // branch field existed tailed main (None).
      val storedBranch = Option(n.get("branch")).map(_.asText).filter(_.nonEmpty)
      require(storedBranch == branch,
        s"checkpoint at $metadataPath was created tailing " +
          s"${storedBranch.getOrElse("main")} but this start names " +
          s"${branch.getOrElse("main")} — a branch change needs a fresh " +
          "checkpoint (offsets are ancestry-specific)")
      Origin(n.get("seq").asLong, n.get("snapshotId").asLong,
        n.get("schemaJson").asText,
        Option(n.get("backfill")).forall(_.asBoolean)) // older origins: true
    }
    if (f.exists(p)) load()
    else {
      val (snaps, schema) = IcebergInterop.streamHead(spark, dir, branch)
      require(snaps.nonEmpty, s"no snapshots at $dir — nothing to stream")
      val o = opts.get("startingsnapshotid") match {
        case None =>
          val head = snaps.last
          Origin(head._1, head._2, schema.json)
        case Some(v) if v.equalsIgnoreCase("earliest") =>
          val first = snaps.head
          Origin(first._1, first._2, schema.json)
        case Some(v) =>
          val id = v.toLong
          val s0 = snaps.find(_._2 == id).getOrElse(
            throw new IllegalArgumentException(
              s"startingSnapshotId $id not found at $dir " +
              s"(live: ${snaps.map(_._2).mkString(",")})"))
          Origin(s0._1, id, schema.json, backfill = false)
      }
      f.mkdirs(new Path(metadataPath))
      val tmp = new Path(metadataPath, s".graft-iceberg-origin.${java.util.UUID.randomUUID}.tmp")
      val out = f.create(tmp, false)
      try {
        val node = M.createObjectNode()
        node.put("seq", o.seq); node.put("snapshotId", o.snapshotId)
        node.put("schemaJson", o.schemaJson)
        node.put("backfill", o.backfill)
        branch.foreach(node.put("branch", _))
        out.write(M.writeValueAsBytes(node))
      } finally out.close()
      if (!graft.io.lake.Staging.putIfAbsent(f, tmp, p)) load() else o
    }
  }

  /** Schema epoch every batch reads with (field-id pinned). */
  private val lockedSchema: StructType =
    org.apache.spark.sql.types.DataType.fromJson(origin.schemaJson)
      .asInstanceOf[StructType]

  /** Origin snapshot's (path -> first_row_id) — the lineage backfill
    * derivation base (lineage mode only); a driver map under the
    * manifest-count gate, a distributed frame above it. */
  private lazy val originRidSource
      : Either[Map[String, Long], org.apache.spark.sql.DataFrame] =
    graft.io.IcebergChangelog.ridSourceFor(spark,
      IcebergInterop.manifestListOf(spark, dir, origin.snapshotId))

  /** Path-sorted origin-snapshot enumeration (refuses deletes); empty
    * for a tail-only origin (`startingSnapshotId = <id>`). */
  private lazy val snapFiles: IndexedSeq[String] =
    if (!origin.backfill) IndexedSeq.empty
    else IcebergInterop.streamSnapshotFiles(spark, dir, origin.snapshotId).toIndexedSeq

  private lazy val changeSchema: StructType =
    graft.io.IcebergChangelog.changeSchema(lockedSchema, withLineage)

  override def schema: StructType =
    if (readChanges) changeSchema else lockedSchema

  // per-sequence-number added-file lists — metadata-sized, pruned as
  // batches commit; also caches the seq→(snapshotId, operation) map
  private val addCache = scala.collection.mutable.HashMap.empty[Long, Seq[String]]

  /** The tailed chain's snapshots strictly after the origin, by
    * sequence number, with parent ids — MAIN ancestry by default
    * (branch-staged snapshots never appear), or the named branch's
    * ancestry under `branch=<ref>`. */
  private def tailSnaps(): Seq[(Long, Long, String, Long)] =
    IcebergInterop.streamHead(spark, dir, branch)._1.filter(_._1 > origin.seq)

  private def addedOf(seq: Long, snapId: Long, op: String): Seq[String] =
    synchronized(addCache.getOrElseUpdate(seq, {
      if (readChanges) Seq("<changes>") // one atomic unit per snapshot
      else addedOfRaw(seq, snapId, op)
    }))

  private def addedOfRaw(seq: Long, snapId: Long, op: String): Seq[String] = {
      // a row-level-DELETE snapshot adds no data files: with
      // ignoreDeletes it advances the offset emitting nothing (rows
      // already emitted stay downstream); otherwise it fails loudly
      if (op != "append" && !(op == "delete" && ignoreDeletes) && !ignoreChanges) {
        // streamAddedFiles itself refuses NEWLY-ADDED delete content;
        // past that, a non-append snapshot that added DATA files
        // (compaction rewrite, overwrite) needs an explicit
        // ignoreChanges — and the ONLY silently-passable shape is a
        // METADATA-ONLY 'replace' (a manifest merge: EXISTING entries,
        // no rows moved). A rollback or an empty overwrite also adds
        // no files, but downstream consumers would keep rows the table
        // no longer contains — those fail loudly regardless.
        if (op != "replace")
          throw new IllegalStateException(
            s"snapshot $snapId (seq $seq) of $dir is '$op', not an append — " +
            (if (op == "delete")
              "set ignoreDeletes to skip row-level deletes, or readChanges to consume them"
             else "set ignoreChanges to accept it, or restart past it"))
        val added = IcebergInterop.streamAddedFiles(spark, dir, snapId,
          ignoreDeletes = false)
        if (added.nonEmpty)
          throw new IllegalStateException(
            s"snapshot $snapId (seq $seq) of $dir is '$op', not an append — " +
            "set ignoreChanges to re-emit its added files, or restart past it")
        added
      } else
        IcebergInterop.streamAddedFiles(spark, dir, snapId,
          ignoreDeletes = ignoreDeletes || ignoreChanges)
  }

  /** Walk forward from `prev` consuming up to `budget` files. */
  private def advance(prev: Option[IcebergSourceOffset],
                      budget: Option[Int]): Option[IcebergSourceOffset] = {
    var remaining = budget.getOrElse(Int.MaxValue)
    var cur = prev
    if (prev.forall(_.starting)) {
      val idx = prev.map(_.index).getOrElse(0)
      if (idx < snapFiles.length) {
        val take = math.min(remaining, snapFiles.length - idx)
        cur = Some(IcebergSourceOffset(origin.seq, idx + take, starting = true))
        remaining -= take
        if (idx + take < snapFiles.length) return cur
      } else if (cur.isEmpty)
        cur = Some(IcebergSourceOffset(origin.seq, 0, starting = true))
    }
    val tail = tailSnaps()
    // finish the partially-consumed tail snapshot first
    cur match {
      case Some(o) if !o.starting =>
        tail.find(_._1 == o.seq).foreach { case (seq, id, op, _) =>
          val n = addedOf(seq, id, op).length
          if (o.index < n && remaining > 0) {
            val take = math.min(remaining, n - o.index)
            cur = Some(IcebergSourceOffset(seq, o.index + take, starting = false))
            remaining -= take
            if (o.index + take < n) return cur
          }
        }
      case _ => ()
    }
    val fromSeq = cur match {
      case Some(o) if !o.starting => o.seq
      case _ => origin.seq // snapshot phase complete (or empty)
    }
    // PARENT-CONTINUITY: each consumed main-chain snapshot must be the
    // direct child of the previous one — a broken link means
    // expireSnapshots dropped data the stream never consumed (fail
    // loudly instead of silently skipping). Sequence numbers alone
    // cannot arbitrate: branch commits consume sequence numbers that
    // legitimately never appear on main. Snapshots without a recorded
    // parent (foreign v1 histories) fall back to seq contiguity.
    // -2 = the boundary snapshot itself expired AFTER being fully
    // consumed (benign: the offset proves consumption) — the first
    // hop then verifies by sequence contiguity instead of parentage
    var prevId =
      if (fromSeq == origin.seq) origin.snapshotId
      else tail.find(_._1 == fromSeq).map(_._2).getOrElse(-2L)
    var prevSeq = fromSeq
    tail.filter(_._1 > fromSeq).foreach { case (seq, id, op, parent) =>
      if (remaining <= 0) return cur
      val linked = parent == prevId ||
        ((parent <= 0 || prevId == -2L) && seq == prevSeq + 1)
      if (!linked)
        throw new IllegalStateException(
          s"main-chain snapshot after seq $prevSeq of $dir expired before " +
          s"the stream consumed it (head resumes at seq $seq) — restart " +
          "the stream from a fresh checkpoint")
      prevId = id; prevSeq = seq
      val n = addedOf(seq, id, op).length
      val take = math.min(remaining, n)
      cur = Some(IcebergSourceOffset(seq, take, starting = false))
      remaining -= take
      if (take < n) return cur
    }
    cur
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFiles.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: ConnectorOffset, limit: ReadLimit): ConnectorOffset = {
    val prev = Option(start).map(IcebergSourceOffset.from)
    val budget = limit match {
      case m: ReadMaxFiles => Some(m.maxFiles)
      case _ => None
    }
    advance(prev, budget).orNull
  }

  override def getOffset: Option[V1Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** Files strictly after `start`, up to and including `end`. */
  private def filesBetween(start: Option[IcebergSourceOffset],
                           end: IcebergSourceOffset): Seq[String] = {
    val snapPart: Seq[String] =
      if (start.forall(_.starting)) {
        val from = start.map(_.index).getOrElse(0)
        val to = if (end.starting) end.index else snapFiles.length
        snapFiles.slice(from, to)
      } else Seq.empty
    val tailPart: Seq[String] =
      if (end.starting) Seq.empty
      else {
        val (fromSeq, fromIdx) = start match {
          case Some(o) if !o.starting => (o.seq, o.index)
          case _ => (origin.seq, 0) // all of every tail snapshot ≤ end
        }
        tailSnaps().filter(t => t._1 >= fromSeq && t._1 <= end.seq)
          .flatMap { case (seq, id, op, _) =>
            val files = addedOf(seq, id, op)
            val lo = if (seq == fromSeq) fromIdx else 0
            val hi = if (seq == end.seq) end.index else files.length
            files.slice(lo, hi)
          }
      }
    snapPart ++ tailPart
  }

  /** Origin files → adding snapshot, for v3 initial-default
    * attribution (built once, only when the schema declares any). */
  private lazy val originFileSnap: Map[String, (Long, Long)] =
    IcebergInterop.streamSnapshotFileSnaps(spark, dir, origin.snapshotId)

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val endO = IcebergSourceOffset.from(end)
    val startO = start.map(IcebergSourceOffset.from)
    if (readChanges) return getChangeBatch(startO, endO)
    val files = filesBetween(startO, endO)
    if (files.isEmpty) GraftBridge.emptyStreamingBatch(spark, schema)
    else {
      val raw = spark.read.schema(lockedSchema).parquet(files: _*)
      // v3 initial-default: files predating a defaulted field surface
      // the DEFAULT, not null — same per-file resolution as the batch
      // reader (zero cost for schemas without defaults)
      val patched =
        if (IcebergInterop.initialDefaultFields(lockedSchema).isEmpty) raw
        else IcebergInterop.applyInitialDefaults(spark,
          IcebergInterop.readJson(spark,
            IcebergInterop.currentMetadataPath(spark, dir)),
          raw, lockedSchema,
          // attribution only for snapshots THIS batch can contain —
          // a later non-append snapshot must not fail an earlier
          // clean batch's replay
          originFileSnap ++ tailSnaps().filter(_._1 <= endO.seq)
            .flatMap { case (seq, id, op, _) =>
              addedOf(seq, id, op).map(p =>
                graft.io.IcebergInterop.canonPathStr(p) -> ((id, seq)))
            }.toMap)
      GraftBridge.asStreamingBatch(patched
        .select(lockedSchema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*))
    }
  }

  /** Change-mode batch: the origin backfill emits as pure inserts
    * (file-sliced, rate-limit friendly); each tailed snapshot emits
    * its change set atomically through [[graft.io.IcebergChangelog]]. */
  private def getChangeBatch(startO: Option[IcebergSourceOffset],
                             endO: IcebergSourceOffset): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val frames = Seq.newBuilder[DataFrame]
    if (startO.forall(_.starting)) {
      val from = startO.map(_.index).getOrElse(0)
      val to = if (endO.starting) endO.index else snapFiles.length
      val slice = snapFiles.slice(from, to)
      if (slice.nonEmpty) {
        val raw0 =
          if (!withLineage)
            spark.read.schema(lockedSchema).parquet(slice: _*)
          else graft.io.IcebergChangelog.attachRidEither(spark,
            spark.read.schema(graft.io.IcebergChangelog
              .lineageReadSchema(lockedSchema)).parquet(slice: _*),
            originRidSource)
        val names = lockedSchema.fieldNames.toSeq ++
          (if (withLineage) Seq("_row_id") else Nil)
        frames += raw0.select(names.map(col): _*)
          .withColumn(graft.io.IcebergChangelog.ChangeType, lit("insert"))
          .withColumn(graft.io.IcebergChangelog.ChangeOrdinal, lit(origin.seq))
          .withColumn(graft.io.IcebergChangelog.CommitSnapshotId,
            lit(origin.snapshotId))
      }
    }
    if (!endO.starting) {
      val (fromSeq, fromIdx) = startO match {
        case Some(o) if !o.starting => (o.seq, o.index)
        case _ => (origin.seq, 1) // origin phase complete; tail everything after
      }
      tailSnaps().filter(t => t._1 >= fromSeq && t._1 <= endO.seq)
        .foreach { case (seq, id, _, _) =>
          val lo = if (seq == fromSeq) fromIdx else 0
          val hi = if (seq == endO.seq) endO.index else 1
          if (lo < hi)
            graft.io.IcebergChangelog
              .changesForSnapshot(spark, dir, id, lockedSchema, withLineage,
                branch)
              .foreach(frames += _)
        }
    }
    frames.result().reduceOption(_ unionByName _) match {
      case None => GraftBridge.emptyStreamingBatch(spark, changeSchema)
      case Some(df) => GraftBridge.asStreamingBatch(
        df.select(changeSchema.fieldNames.map(col).toSeq: _*))
    }
  }

  override def commit(end: V1Offset): Unit = {
    val o = IcebergSourceOffset.from(end)
    synchronized { addCache.filterInPlace((seq, _) => seq >= o.seq) }
  }

  override def stop(): Unit = ()

  override def toString: String = s"IcebergSource[$dir]"
}

/** `spark.readStream.format("graft-iceberg").load(path)`. */
final class IcebergSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-iceberg"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-iceberg source needs a path: .load(dir)"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse(
      IcebergInterop.streamHead(sqlContext.sparkSession, pathOf(parameters))._2)
    val readChanges = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("readchanges") => v.toBoolean
    }.getOrElse(false)
    val withLineage = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("lineage") => v.toBoolean
    }.getOrElse(false)
    (shortName(),
      if (!readChanges) base
      else graft.io.IcebergChangelog.changeSchema(base, withLineage))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new IcebergSource(sqlContext.sparkSession, pathOf(parameters), metadataPath, parameters)
}
