package graft.io

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.io.DeltaInterop.{AddFile, DeltaState}
import graft.io.lake.Commit

/** UniForm: Iceberg metadata a Delta table maintains alongside its
  * own log, so Iceberg readers can read the table WITHOUT a copy —
  * the open-spec behavior delta-spark ships as
  * `delta.universalFormat.enabledFormats=iceberg` / the
  * `icebergCompatV2` writer feature (delta.io PROTOCOL.md "Iceberg
  * Compatibility", iceberg.apache.org/spec/). The Delta log stays the
  * source of truth; after every winning commit [[maybeSync]] renders
  * the post-commit state as one more Iceberg snapshot under
  * `<table>/metadata/` (the same file-system-catalog layout
  * [[IcebergInterop]] reads: `v<N>.metadata.json`, `version-hint.text`,
  * Avro manifest list + manifests).
  *
  * Scale shape — the sync is METADATA-ONLY, no data jobs:
  *   - pure appends are INCREMENTAL: one new manifest holding just the
  *     committed adds, prior manifests carried forward by reference —
  *     O(new files) work per append, like the Delta commit itself;
  *   - commits that remove files (copy-on-write DELETE/UPDATE/MERGE,
  *     OPTIMIZE, RESTORE) rewrite ONE manifest from the live file set —
  *     O(live files) metadata, the same cost class as a checkpoint;
  *   - schema changes (RENAME/ADD/DROP COLUMN) re-emit metadata JSON
  *     with a new schema-id, zero file work — Iceberg resolves columns
  *     by FIELD ID, which equals the Delta column-mapping id graft
  *     stamps into every data file it writes on uniform tables;
  *   - per-file row counts and numeric bounds translate straight from
  *     the Delta add's stats JSON (footer read only as fallback), so
  *     Iceberg readers get file-level data skipping for free.
  *
  * Vacuum interplay: Delta retention governs file life; Iceberg
  * snapshots older than the vacuum horizon may reference reclaimed
  * files (exactly delta-spark's documented UniForm behavior). The
  * CURRENT Iceberg snapshot always matches the current Delta state. */
object IcebergUniform {

  private val M = new ObjectMapper()

  /** delta-spark's property naming the mirrored formats. */
  val EnabledFormatsKey = "delta.universalFormat.enabledFormats"
  /** delta-spark's icebergCompat version-2 enablement flag. */
  val CompatV2Key = "delta.enableIcebergCompatV2"

  /** Cheap per-commit gate ([[maybeSync]] checks it before replaying
    * state): written by enableUniform, lives with the Iceberg
    * metadata. Dot-prefixed so directory listings of `metadata/`
    * by Iceberg tooling ignore it. */
  val MarkerName = ".graft-uniform"

  def enabled(st: DeltaState): Boolean =
    st.configuration.get(EnabledFormatsKey)
      .exists(_.toLowerCase.split(',').map(_.trim).contains("iceberg")) ||
      st.configuration.get(CompatV2Key).contains("true")

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (field, iceberg field id, physical column name) per top-level
    * field: the id and physical name come from Delta column mapping —
    * enableUniform upgrades the table to mapping mode, so both always
    * exist on a uniform table; a not-yet-upgraded schema (mid-enable)
    * falls back to position+1 / logical name, which is EXACTLY what
    * the upgrade then freezes, keeping the id space stable. */
  private[io] def fieldIds(schema: StructType): Seq[(StructField, Int, String)] =
    schema.fields.toSeq.zipWithIndex.map { case (fd, i) =>
      val id =
        if (fd.metadata.contains("delta.columnMapping.id"))
          fd.metadata.getLong("delta.columnMapping.id").toInt
        else i + 1
      val phys =
        if (fd.metadata.contains("delta.columnMapping.physicalName"))
          fd.metadata.getString("delta.columnMapping.physicalName")
        else fd.name
      (fd, id, phys)
    }

  /** Stamp `parquet.field.id` onto a PHYSICAL-named frame about to be
    * staged into a uniform table — icebergCompatV2's writer
    * obligation, and what lets Iceberg readers resolve columns by id
    * regardless of physical names. */
  private[io] def stampFieldIds(df: DataFrame, st: DeltaState): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val idOfPhys = fieldIds(st.schema).map { case (_, id, phys) => phys -> id }.toMap
    df.select(df.schema.fields.toSeq.map { fd =>
      idOfPhys.get(fd.name) match {
        case Some(id) => col(fd.name).as(fd.name, new MetadataBuilder()
          .withMetadata(fd.metadata).putLong("parquet.field.id", id.toLong).build())
        case None => col(fd.name)
      }
    }: _*)
  }

  /** Post-commit hook ([[DeltaInterop.commit]]): one marker-file
    * existence check for ordinary tables. PURE APPENDS — the hot path,
    * a streaming sink appends every micro-batch — take the FAST path:
    * the new manifest renders straight from the committed add actions
    * and the marker file's cached (physical column → field id/type)
    * map, with NO Delta log replay at all. Commits that remove files,
    * change metadata, or re-add backfills replay state once and
    * refresh the marker cache. Loud on failure — the Delta commit is
    * already durable, and a missed sync self-heals on the next
    * full-path commit (it renders CURRENT state), but silent lag would
    * let an Iceberg reader read stale data with no signal. The sync
    * runs through the one optimistic loop ([[Commit.optimistic]]): one
    * that loses its metadata version to a concurrent commit's sync
    * deletes its manifest and list and re-renders the current state in
    * full, at most 1 + `Commit.MaxCommitRetries` attempts. */
  def maybeSync(spark: SparkSession, dir: String, deltaVersion: Long,
                actions: Seq[String]): Unit = {
    val f = fs(spark, dir)
    val markerP = new Path(dir, s"metadata/$MarkerName")
    if (!f.exists(markerP)) return
    val nodes = actions.map(M.readTree)
    val hasRemove = nodes.exists(_.has("remove"))
    val adds = nodes.filter(_.has("add")).map(_.get("add"))
    val weakAdds = adds.exists(!_.path("dataChange").asBoolean(true))
    val metaChanged = nodes.exists(_.has("metaData"))
    if (adds.nonEmpty && !hasRemove && !weakAdds && !metaChanged) {
      val root = new Path(dir)
      val base = IcebergWrite.currentVersion(f, root)
      readMarker(f, markerP).zip(readMeta(f, root, base)) match {
        case Some((cols, m)) =>
          syncing(spark, dir)(syncIncremental(_, spark, dir, f, base, m, cols, deltaVersion, adds))
          return
        case None => // cache not seeded yet — fall through to the full path
      }
    }
    val st = DeltaInterop.state(spark, dir)
    if (!enabled(st)) { // disabled since (UNSET TBLPROPERTIES)
      f.delete(markerP, false) // disarm: later commits skip in one exists()
      return
    }
    syncing(spark, dir)(sync(_, spark, dir, st, actions))
    writeMarker(f, markerP, st)
  }

  /** Run `first` as the sync's first attempt; after a lost race, render
    * the CURRENT Delta state in full: it covers this commit and the one
    * whose sync won. */
  private def syncing(spark: SparkSession, dir: String)(first: Commit.Attempt => Unit): Unit =
    Commit.optimistic(fs(spark, dir), "UniForm sync", dir) { at =>
      if (at.n == 0) first(at)
      else sync(at, spark, dir, DeltaInterop.state(spark, dir), Nil, full = true)
    }

  /** The marker file doubles as the fast path's schema cache:
    * physical column name → (field id, Spark type JSON), refreshed on
    * every full-path sync (any commit that could change the schema
    * carries a metaData action and takes the full path, so the cache
    * is never stale when the fast path reads it). */
  private def writeMarker(f: FileSystem, p: Path, st: DeltaState): Unit = {
    val n = M.createObjectNode()
    val cols = n.putObject("cols")
    fieldIds(st.schema).foreach { case (fd, id, phys) =>
      val c = cols.putObject(phys)
      c.put("id", id)
      c.put("dt", fd.dataType.json)
    }
    val out = f.create(p, true)
    try out.write(M.writeValueAsBytes(n)) finally out.close()
  }

  private def readMarker(f: FileSystem,
                         p: Path): Option[Map[String, (Int, DataType)]] = {
    import scala.jdk.CollectionConverters._
    val in = f.open(p)
    val n = try M.readTree(in) finally in.close()
    if (n == null || !n.has("cols")) None
    else Some(n.path("cols").fields().asScala.map { e =>
      e.getKey -> ((e.getValue.path("id").asInt,
        DataType.fromJson(e.getValue.path("dt").asText)))
    }.toMap).filter(_.nonEmpty)
  }

  /** FAST append sync: one new manifest from the committed adds, prior
    * manifests carried by reference, `prevMeta` (version `base`) deep-
    * copied with one more snapshot — O(new files) metadata work and
    * zero Delta log replay. */
  private def syncIncremental(at: Commit.Attempt, spark: SparkSession, dir: String,
                              f: FileSystem, base: Int, prevMeta: JsonNode,
                              cols: Map[String, (Int, DataType)],
                              deltaVersion: Long, adds: Seq[JsonNode]): Unit = {
    val root = new Path(dir)
    val seqNo = prevMeta.path("last-sequence-number").asLong(0L) + 1
    val snapshotId = seqNo
    val list = writeSnapshotFiles(at, f, root, seqNo,
      adds.map(a => fileEntry(spark, root, addFileOf(a), snapshotId, seqNo, cols)),
      currentManifests(spark, prevMeta))
    val n = prevMeta.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    n.put("last-sequence-number", seqNo)
    addSnapshot(n.path("snapshots").asInstanceOf[ArrayNode], seqNo, list,
      n.path("current-schema-id").asInt(0), "append", deltaVersion)
    n.put("current-snapshot-id", snapshotId)
    IcebergWrite.publishOrLose(f, root, base, n)
  }

  /** The current snapshot's manifest records, carried forward by an
    * incremental snapshot. */
  private def currentManifests(spark: SparkSession,
                               m: JsonNode): Seq[org.apache.avro.generic.GenericRecord] = {
    import scala.jdk.CollectionConverters._
    val cur = m.path("current-snapshot-id").asLong(-1L)
    m.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == cur).toSeq
      .flatMap(s0 => IcebergInterop.avroRecords(spark,
        new Path(resolve(s0.path("manifest-list").asText))))
  }

  /** Write one attempt's manifest of `entries` and its manifest list
    * (`prior` manifests first, re-serialized under this writer's list
    * schema), named uniquely so racing attempts never share a file, and
    * declared to `at`. Returns the list. */
  private def writeSnapshotFiles(at: Commit.Attempt, f: FileSystem, root: Path, seqNo: Long,
                                 entries: Seq[org.apache.avro.generic.GenericRecord],
                                 prior: Seq[org.apache.avro.generic.GenericRecord]): Path = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val mp = at.declare(new Path(root, s"metadata/uniform-m$seqNo-$tag.avro"))
    IcebergFormat.writeAvro(f, mp, IcebergFormat.EntrySchema, entries)
    val lp = at.declare(new Path(root, s"metadata/uniform-snap-$seqNo-$tag.avro"))
    IcebergFormat.writeAvro(f, lp, IcebergFormat.ManifestFileSchema,
      prior :+ manifestRecord(mp, f.getFileStatus(mp).getLen, seqNo, seqNo))
    lp
  }

  private def addSnapshot(snaps: ArrayNode, snapshotId: Long, list: Path, schemaId: Int,
                          op: String, deltaVersion: Long): Unit = {
    val s0 = snaps.addObject()
    s0.put("snapshot-id", snapshotId)
    s0.put("sequence-number", snapshotId)
    s0.put("timestamp-ms", System.currentTimeMillis())
    s0.put("manifest-list", list.toString)
    s0.put("schema-id", schemaId)
    val sum = s0.putObject("summary")
    sum.put("operation", op)
    sum.put("delta-version", deltaVersion.toString)
  }

  /** ADOPT a FOREIGN UniForm mirror: a table whose Delta config
    * declares uniform but whose `metadata/` was authored by another
    * icebergCompat writer (delta-spark). Writes refuse on such tables
    * ([[DeltaInterop]]'s requireWritable) because committing without a
    * matching Iceberg snapshot would leave Iceberg readers silently
    * stale. Adoption VALIDATES the existing lineage — the mirror's
    * current snapshot must scan exactly the Delta state's live files,
    * and the Iceberg field ids must equal the Delta column-mapping ids
    * (the icebergCompat invariant every later sync depends on) — and
    * only then writes the maintenance marker, after which every graft
    * commit syncs the mirror incrementally. Refuses loudly when
    * validation fails: adopting a diverged mirror would bless stale
    * reads. */
  def adopt(spark: SparkSession, dir: String): Unit = {
    val st = DeltaInterop.state(spark, dir)
    require(enabled(st),
      s"$dir is not declared uniform in its Delta configuration " +
      s"($EnabledFormatsKey / $CompatV2Key) — use enableUniform for a fresh mirror")
    val f = fs(spark, dir)
    val root = new Path(dir)
    val markerP = new Path(root, s"metadata/$MarkerName")
    require(!f.exists(markerP),
      s"the mirror at $dir is already maintained by this engine")
    require(IcebergWrite.currentVersion(f, root) > 0,
      s"$dir has no Iceberg metadata to adopt — use enableUniform")
    // 1. FILE AGREEMENT: the mirror's current snapshot == Delta's live set
    val (snaps, iceSchema) = IcebergInterop.streamHead(spark, dir)
    require(snaps.nonEmpty, s"the mirror at $dir has no snapshots")
    def canon(p: String): String = p.replaceFirst("^file:/+", "/")
    val iceLive = IcebergInterop.streamSnapshotFiles(spark, dir, snaps.last._2)
      .map(canon).toSet
    val deltaLive = st.files.map(a =>
      canon(new Path(root, a.path).toString)).toSet
    require(iceLive == deltaLive,
      s"cannot adopt the mirror at $dir: its current snapshot scans " +
      s"${iceLive.size} file(s) but the Delta state holds ${deltaLive.size} — " +
      s"diverged (missing from mirror: ${(deltaLive -- iceLive).take(3).mkString(", ")}" +
      s"${if ((deltaLive -- iceLive).size > 3) ", …" else ""}; extra in mirror: " +
      s"${(iceLive -- deltaLive).take(3).mkString(", ")})")
    // 2. FIELD-ID AGREEMENT: Iceberg ids must equal Delta mapping ids
    val iceIds: Map[String, Long] = iceSchema.fields.flatMap { fd =>
      if (fd.metadata.contains("parquet.field.id"))
        Some(fd.name -> fd.metadata.getLong("parquet.field.id"))
      else None
    }.toMap
    fieldIds(st.schema).foreach { case (fd, id, _) =>
      require(iceIds.get(fd.name).contains(id.toLong),
        s"cannot adopt the mirror at $dir: Iceberg field '${fd.name}' has " +
        s"id ${iceIds.getOrElse(fd.name, "ABSENT")} but the Delta column-mapping " +
        s"id is $id — the icebergCompat id invariant does not hold")
    }
    // 3. TAKE OVER: the marker arms every later commit's maybeSync
    writeMarker(f, markerP, st)
  }

  /** EXPIRE SNAPSHOTS (Iceberg's `expireSnapshots` maintenance, run
    * with Delta VACUUM semantics): drop Iceberg snapshots older than
    * the cutoff — the CURRENT snapshot always survives — then reclaim
    * every `uniform-*.avro` no kept snapshot references and every
    * metadata JSON below the previous version. Without this the
    * mirror's metadata/ grows one manifest + list + JSON per commit
    * forever; with it, metadata size tracks the LIVE snapshot window,
    * the same contract Delta's own checkpoint + log-cleanup give the
    * `_delta_log`. Manifests still referenced by kept snapshots (the
    * incremental chain carries early manifests forward by reference)
    * survive reference-counted, never by age. Returns the number of
    * files reclaimed. [[DeltaInterop.vacuum]] calls this on uniform
    * tables with its own retention, keeping both planes' time-travel
    * horizons aligned. */
  def expireSnapshots(spark: SparkSession, dir: String,
                      retainMillis: Long): Int = {
    import scala.jdk.CollectionConverters._
    val f = fs(spark, dir)
    val root = new Path(dir)
    val metaDir = new Path(root, "metadata")
    val prevV = IcebergWrite.currentVersion(f, root)
    val m = readMeta(f, root, prevV).getOrElse(return 0)
    val cutoff = System.currentTimeMillis() - retainMillis
    val curId = m.path("current-snapshot-id").asLong(-1L)
    val snaps = m.path("snapshots").elements().asScala.toSeq
    val (kept, expired) = snaps.partition(s0 =>
      s0.path("snapshot-id").asLong(-2L) == curId ||
        s0.path("timestamp-ms").asLong(0L) >= cutoff)
    if (expired.isEmpty) return 0
    // reference-counted keep set: every kept snapshot's manifest list
    // file, plus every manifest those lists name
    val keep = scala.collection.mutable.HashSet.empty[String]
    kept.foreach { s0 =>
      val lp = resolve(s0.path("manifest-list").asText)
      keep += new Path(lp).getName
      IcebergInterop.avroRecords(spark, new Path(lp)).foreach(r =>
        keep += new Path(resolve(r.get("manifest_path").toString)).getName)
    }
    // new metadata json first (readers switch before anything vanishes)
    val n = m.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    val arr = M.createArrayNode()
    kept.foreach(arr.add)
    n.set[JsonNode]("snapshots", arr)
    IcebergWrite.commitOnce(f, dir, "expireSnapshots") { _ =>
      IcebergWrite.publishOrLose(f, root, prevV, n) }
    var reclaimed = 0
    f.listStatus(metaDir).foreach { s0 =>
      val name = s0.getPath.getName
      val drop =
        (name.startsWith("uniform-") && name.endsWith(".avro") && !keep.contains(name)) ||
        ("""v(\d+)\.metadata\.json""".r.findFirstMatchIn(name)
          .exists(_.group(1).toLong < prevV)) // keep prevV as the undo step
      if (drop) { f.delete(s0.getPath, false); reclaimed += 1 }
    }
    reclaimed
  }

  private def manifestRecord(mp: Path, len: Long, seqNo: Long,
                             snapshotId: Long): org.apache.avro.generic.GenericRecord = {
    val r = new org.apache.avro.generic.GenericData.Record(IcebergFormat.ManifestFileSchema)
    r.put("manifest_path", mp.toString)
    r.put("manifest_length", len)
    r.put("partition_spec_id", 0)
    r.put("content", 0)
    r.put("sequence_number", seqNo)
    r.put("added_snapshot_id", snapshotId)
    r
  }

  /** Render one Delta commit as Iceberg metadata. The committed
    * `actions` classify the shape:
    *   - any remove, or any dataChange=false add (backfill-style
    *     re-adds) → FULL: one manifest of the live file set;
    *   - dataChange=true adds only → INCREMENTAL: one manifest of the
    *     new adds, prior manifests carried forward;
    *   - metaData only → metadata-only evolution (new schema-id when
    *     the rendered schema changed, else nothing to do).
    * `full` forces the FULL shape. */
  private def sync(at: Commit.Attempt, spark: SparkSession, dir: String, st: DeltaState,
                   actions: Seq[String], full: Boolean = false): Unit = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    val prevV = IcebergWrite.currentVersion(f, root)
    val prevMeta = readMeta(f, root, prevV)

    val nodes = actions.map(M.readTree)
    val hasRemove = nodes.exists(_.has("remove"))
    val adds = nodes.filter(_.has("add")).map(_.get("add"))
    val weakAdds = adds.exists(!_.path("dataChange").asBoolean(true))
    val metaChanged = nodes.exists(_.has("metaData"))

    val mode: Char =
      if (full || prevMeta.isEmpty || hasRemove || weakAdds) 'F'
      else if (adds.nonEmpty) 'I'
      else if (metaChanged) 'M'
      else return

    val ids = fieldIds(st.schema)
    val schemaNode = renderSchema(ids)
    // schema-id bookkeeping: carry prior schemas forward; a changed
    // rendering appends a new entry (ids never reused — Delta column
    // mapping guarantees it)
    val (schemas, curSchemaId) = prevMeta match {
      case None =>
        val arr = M.createArrayNode()
        val s0 = schemaNode.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
        s0.put("schema-id", 0); arr.add(s0); (arr, 0)
      case Some(m) =>
        import scala.jdk.CollectionConverters._
        val arr = m.path("schemas").deepCopy[JsonNode]()
          .asInstanceOf[ArrayNode]
        val curId = m.path("current-schema-id").asInt(0)
        val cur = arr.elements().asScala.find(_.path("schema-id").asInt(-1) == curId).get
        val curStripped = cur.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
        curStripped.remove("schema-id")
        if (curStripped == schemaNode) (arr, curId)
        else {
          val maxId = arr.elements().asScala.map(_.path("schema-id").asInt(0)).max
          val s0 = schemaNode.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
          s0.put("schema-id", maxId + 1); arr.add(s0); (arr, maxId + 1)
        }
    }
    if (mode == 'M' &&
        prevMeta.exists(_.path("current-schema-id").asInt(0) == curSchemaId))
      return // config-only change: nothing Iceberg-visible

    val idOfPhys = ids.map { case (fd, id, phys) => phys -> ((id, fd.dataType)) }.toMap
    val seqNo = prevMeta.map(_.path("last-sequence-number").asLong(0L)).getOrElse(0L) + 1
    val snapshotId = seqNo

    // manifest list: prior manifests carry forward on incremental
    // appends; full mode starts over with the single rewritten manifest
    val newSnapshot: Option[(Path, String)] = mode match {
      case 'M' => None
      case 'I' =>
        Some((writeSnapshotFiles(at, f, root, seqNo,
          adds.map(a => fileEntry(spark, root, addFileOf(a), snapshotId, seqNo, idOfPhys)),
          prevMeta.toSeq.flatMap(currentManifests(spark, _))), "append"))
      case _ =>
        Some((writeSnapshotFiles(at, f, root, seqNo,
          st.files.map(fileEntry(spark, root, _, snapshotId, seqNo, idOfPhys)), Nil),
          if (prevMeta.isEmpty) "append" else "overwrite"))
    }

    val n = M.createObjectNode()
    n.put("format-version", 2)
    n.put("table-uuid",
      prevMeta.map(_.path("table-uuid").asText(""))
        .filter(_.nonEmpty)
        .getOrElse(java.util.UUID.nameUUIDFromBytes(dir.getBytes).toString))
    n.put("location", dir)
    n.put("last-sequence-number", seqNo)
    n.set[JsonNode]("schemas", schemas)
    n.put("last-column-id", ids.map(_._2).maxOption.getOrElse(0))
    n.put("current-schema-id", curSchemaId)
    val specs = n.putArray("partition-specs")
    val sp = specs.addObject(); sp.put("spec-id", 0); sp.putArray("fields")
    n.put("default-spec-id", 0)
    val snaps = n.putArray("snapshots")
    prevMeta.foreach { m =>
      import scala.jdk.CollectionConverters._
      m.path("snapshots").elements().asScala.foreach(snaps.add)
    }
    newSnapshot match {
      case Some((list, op)) =>
        addSnapshot(snaps, snapshotId, list, curSchemaId, op, st.version)
        n.put("current-snapshot-id", snapshotId)
      case None =>
        prevMeta.foreach(m => if (m.hasNonNull("current-snapshot-id"))
          n.put("current-snapshot-id", m.path("current-snapshot-id").asLong))
    }
    IcebergWrite.publishOrLose(f, root, prevV, n)
  }

  /** Iceberg schema JSON (no schema-id) for the table's current
    * logical fields: logical names, column-mapping field ids. */
  private def renderSchema(ids: Seq[(StructField, Int, String)]): JsonNode = {
    val sc = M.createObjectNode()
    sc.put("type", "struct")
    val fields = sc.putArray("fields")
    ids.foreach { case (fd, id, _) =>
      val fn = fields.addObject()
      fn.put("id", id); fn.put("name", fd.name)
      fn.put("required", false) // Delta adds may predate the column
      fn.put("type", IcebergFormat.icebergType(fd.dataType))
    }
    sc
  }

  private def addFileOf(a: JsonNode): AddFile =
    AddFile(a.get("path").asText, Map.empty, a.path("size").asLong(0L),
      Option(a.get("stats")).filter(!_.isNull)
        .map(s => M.readTree(s.asText).path("numRecords").asLong(-1L))
        .getOrElse(-1L),
      Map.empty,
      stats = Option(a.get("stats")).filter(!_.isNull).map(_.asText).orNull)

  /** One manifest entry for a live Delta add: absolute path, row count
    * and numeric bounds translated from the add's own stats JSON — a
    * footer read only when the log carries no numRecords. */
  private def fileEntry(spark: SparkSession, root: Path, a: AddFile,
                        snapshotId: Long, seqNo: Long,
                        idOfPhys: Map[String, (Int, DataType)]): org.apache.avro.generic.GenericRecord = {
    val abs = new Path(root, a.path).toString
    val rows =
      if (a.numRecords >= 0) a.numRecords
      else spark.read.parquet(abs).count()
    val bounds: Map[Int, (Array[Byte], Array[Byte])] =
      Option(a.stats).map(M.readTree).map { s0 =>
        val mins = s0.path("minValues"); val maxs = s0.path("maxValues")
        import scala.jdk.CollectionConverters._
        mins.fields().asScala.flatMap { e =>
          val name = e.getKey
          idOfPhys.get(name).flatMap { case (id, dt) =>
            for {
              lo <- boundBytes(dt, e.getValue)
              hi <- boundBytes(dt, maxs.path(name))
            } yield id -> ((lo, hi))
          }
        }.toMap
      }.getOrElse(Map.empty)
    IcebergFormat.entry(0, abs, rows, a.size, snapshotId, seqNo, bounds = bounds)
  }

  /** Delta stats JSON value → Iceberg bound bytes for the numeric
    * types graft stats carry (ints/longs as longs, floats/doubles as
    * doubles). Anything else: no bound, no pruning. */
  private def boundBytes(dt: DataType, v: JsonNode): Option[Array[Byte]] =
    if (v == null || v.isMissingNode || v.isNull) None
    else dt match {
      case IntegerType if v.canConvertToInt =>
        IcebergFormat.serializeBound(IntegerType, v.asInt)
      case LongType if v.canConvertToLong =>
        IcebergFormat.serializeBound(LongType, v.asLong)
      case FloatType if v.isNumber =>
        IcebergFormat.serializeBound(FloatType, v.asDouble.toFloat)
      case DoubleType if v.isNumber =>
        IcebergFormat.serializeBound(DoubleType, v.asDouble)
      case _ => None
    }

  private def resolve(uri: String): String =
    if (uri.startsWith("file:")) new java.net.URI(uri).getPath else uri

  private def readMeta(f: FileSystem, root: Path, v: Int): Option[JsonNode] =
    if (v == 0) None
    else {
      val in = f.open(new Path(root, s"metadata/v$v.metadata.json"))
      try Some(M.readTree(in)) finally in.close()
    }
}
