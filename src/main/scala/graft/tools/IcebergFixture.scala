package graft.tools

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.io.lake.Staging
import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** FIXTURE writer: a minimal spec-shaped Apache Iceberg v2 table
  * (iceberg.apache.org/spec/ — data parquet + Avro manifests + Avro
  * manifest list + `v<N>.metadata.json` + `version-hint.text`), the
  * foreign-table shape [[graft.io.IcebergInterop]] reads. Test/oracle
  * support: the PRODUCT write path is [[graft.io.IcebergWrite]]
  * (optimistic commits, footer-stat bounds); this fixture stays a
  * separate, simpler writer so reads keep being exercised against a
  * table laid out by the published spec rather than by either
  * product-side codepath's own assumptions.
  * Supports append snapshots and POSITION-DELETE snapshots (a delete
  * manifest whose entries reference position-delete parquet files
  * with the spec's `file_path`/`pos` columns). */
object IcebergFixture {

  private val M = new ObjectMapper()

  private val EntrySchema = graft.io.IcebergFormat.EntrySchema
  private val ManifestFileSchema = graft.io.IcebergFormat.ManifestFileSchema

  private def writeAvro(f: org.apache.hadoop.fs.FileSystem, path: Path,
                        schema: Schema, records: Seq[GenericRecord]): Unit =
    graft.io.IcebergFormat.writeAvro(f, path, schema, records)

  private def readAvro(conf: org.apache.hadoop.conf.Configuration,
                       p: Path): Seq[GenericRecord] = {
    val in = new org.apache.avro.mapred.FsInput(p, conf)
    val r = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try { val b = Seq.newBuilder[GenericRecord]; while (r.hasNext) b += r.next(); b.result() }
    finally r.close()
  }

  private def icebergType(dt: DataType): String =
    graft.io.IcebergFormat.icebergType(dt)

  private def currentVersion(f: FileSystem, root: Path): Int = {
    val hintP = new Path(root, "metadata/version-hint.text")
    if (!f.exists(hintP)) 0
    else {
      val in = f.open(hintP)
      try scala.io.Source.fromInputStream(in).mkString.trim.toInt finally in.close()
    }
  }

  private def readMeta(f: FileSystem, root: Path, v: Int): Option[JsonNode] =
    if (v == 0) None
    else {
      val in = f.open(new Path(root, s"metadata/v$v.metadata.json"))
      try Some(M.readTree(in)) finally in.close()
    }

  private def currentSchemaNode(m: JsonNode): JsonNode = {
    import scala.jdk.CollectionConverters._
    val cur = m.path("current-schema-id").asInt(0)
    m.path("schemas").elements().asScala
      .find(_.path("schema-id").asInt(-1) == cur)
      .getOrElse(throw new IllegalArgumentException(s"schema-id $cur missing"))
  }

  /** (name, field id) pairs of the current schema, in order. */
  private def currentFieldIds(m: JsonNode): Seq[(String, Int)] = {
    import scala.jdk.CollectionConverters._
    currentSchemaNode(m).path("fields").elements().asScala
      .map(fd => fd.path("name").asText -> fd.path("id").asInt).toSeq
  }

  private def lastColumnId(m: JsonNode): Int = {
    import scala.jdk.CollectionConverters._
    m.path("last-column-id").asInt(
      m.path("schemas").elements().asScala
        .flatMap(_.path("fields").elements().asScala)
        .map(_.path("id").asInt(0)).maxOption.getOrElse(0))
  }

  /** Stamp `parquet.field.id` metadata onto `df`'s columns so the
    * written files carry Iceberg field ids (what real Iceberg writers
    * always do, and what id-based column resolution needs once the
    * table's schema evolves). */
  private def withFieldIds(df: DataFrame, idsByName: Map[String, Int]): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    df.select(df.schema.fields.map { fd =>
      col(fd.name).as(fd.name, new MetadataBuilder()
        .putLong("parquet.field.id", idsByName(fd.name).toLong).build())
    }.toSeq: _*)
  }

  /** One manifest_entry via [[graft.io.IcebergFormat.entry]] (fixture
    * convention: sequence number == snapshot id). */
  private def entry(content: Int, path: String, rows: Long, size: Long,
                    snapshotId: Long,
                    equalityIds: Seq[Int] = Nil,
                    bounds: Map[Int, (Array[Byte], Array[Byte])] = Map.empty,
                    referencedDataFile: Option[String] = None): GenericRecord =
    graft.io.IcebergFormat.entry(content, path, rows, size, snapshotId,
      snapshotId, equalityIds, bounds,
      referencedDataFile = referencedDataFile)

  private def serializeBound(dt: DataType, v: Any): Option[Array[Byte]] =
    graft.io.IcebergFormat.serializeBound(dt, v)

  /** One manifest reference for [[commitSnapshot]]'s list: content
    * 0=data / 1=deletes, the spec id its entries were written under,
    * and (for partitioned manifests) the identity-partition-field
    * summary bytes the manifest list carries for manifest-level
    * skipping. */
  private[graft] final case class ManifestRef(path: Path, content: Int,
      specId: Int = 0, summary: Option[(Array[Byte], Array[Byte])] = None)

  /** Commit a new snapshot whose manifest list = the previous
    * snapshot's manifests + `newManifests`; writes vN metadata json and
    * the version hint. `partSpec` = (partition field name, source
    * field id, transform) registers partition spec id 1 that
    * partitioned manifests reference — `identity`, the temporal
    * transforms, `bucket[N]`, or `truncate[W]`. Returns the snapshot
    * id. */
  private def commitSnapshot(spark: SparkSession, dir: String,
                             schema: StructType,
                             newManifests: Seq[ManifestRef],
                             operation: String,
                             partSpec: Option[(String, Int, String)] = None,
                             formatVersion: Int = 2,
                             nextRowId: Option[Long] = None): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val f = root.getFileSystem(conf)
    val prevVersion = currentVersion(f, root)
    val prevMeta = readMeta(f, root, prevVersion)
    val snapshotId = prevVersion + 1L
    val seqNo = prevVersion + 1L

    import scala.jdk.CollectionConverters._
    // prior manifests come from the previous manifest LIST (so data
    // and delete manifests both carry forward), not from a naming
    // convention; partition summaries and spec ids carry through
    val FS = ManifestFileSchema.getField("partitions").schema()
      .getTypes.get(1).getElementType
    val prior: Seq[(String, Long, Int, Long, Int, AnyRef, Long)] =
      prevMeta.toSeq.flatMap { m =>
        val cur = m.path("current-snapshot-id").asLong
        m.path("snapshots").elements().asScala
          .find(_.path("snapshot-id").asLong == cur).toSeq
          .flatMap { s0 =>
            readAvro(conf, new Path(new java.net.URI(
              s0.path("manifest-list").asText).getPath)).map { r =>
              (r.get("manifest_path").toString,
                r.get("manifest_length").asInstanceOf[Number].longValue,
                r.get("content").asInstanceOf[Number].intValue,
                Option(r.get("sequence_number"))
                  .map(_.asInstanceOf[Number].longValue).getOrElse(0L),
                Option(r.getSchema.getField("partition_spec_id"))
                  .flatMap(_ => Option(r.get("partition_spec_id")))
                  .map(_.asInstanceOf[Number].intValue).getOrElse(0),
                Option(r.getSchema.getField("partitions"))
                  .flatMap(_ => Option(r.get("partitions"))).orNull,
                // carried-forward manifests keep their ORIGINAL
                // added_snapshot_id — incremental consumers attribute
                // "files added by snapshot S" through it
                Option(r.get("added_snapshot_id"))
                  .map(_.asInstanceOf[Number].longValue).getOrElse(snapshotId))
            }
          }
      }
    val fresh = newManifests.map { mr =>
      val parts: AnyRef = mr.summary.map { case (lo, hi) =>
        val fsRec = new GenericData.Record(FS)
        fsRec.put("contains_null", false)
        fsRec.put("lower_bound", java.nio.ByteBuffer.wrap(lo))
        fsRec.put("upper_bound", java.nio.ByteBuffer.wrap(hi))
        val arr = new GenericData.Array[GenericRecord](1,
          ManifestFileSchema.getField("partitions").schema().getTypes.get(1))
        arr.add(fsRec); arr
      }.orNull
      (mr.path.toString, f.getFileStatus(mr.path).getLen, mr.content,
        seqNo, mr.specId, parts, snapshotId)
    }
    val listRecords = (prior ++ fresh).map {
      case (mp, len, content, mseq, specId, parts, addedBy) =>
        val r = new GenericData.Record(ManifestFileSchema)
        r.put("manifest_path", mp)
        r.put("manifest_length", len)
        r.put("partition_spec_id", specId)
        r.put("content", content)
        r.put("sequence_number", mseq)
        r.put("added_snapshot_id", addedBy)
        if (parts != null) r.put("partitions", parts)
        r
    }
    val listP = new Path(root, s"metadata/snap-$snapshotId.avro")
    writeAvro(f, listP, ManifestFileSchema, listRecords)

    val n = M.createObjectNode()
    // v3 is sticky: once a DV snapshot bumped the table, later commits
    // keep the version
    n.put("format-version", math.max(formatVersion,
      prevMeta.map(_.path("format-version").asInt(2)).getOrElse(2)))
    // v3 row lineage: the table-level fresh-row-id watermark carries
    // forward (and advances when this commit assigned ids)
    nextRowId.orElse(prevMeta.flatMap(m =>
        Option(m.get("next-row-id")).map(_.asLong)))
      .foreach(v => n.put("next-row-id", v))
    n.put("table-uuid", java.util.UUID.nameUUIDFromBytes(dir.getBytes).toString)
    n.put("location", dir)
    n.put("last-sequence-number", seqNo)
    // schemas are carried FORWARD, never rebuilt: field ids must stay
    // stable across commits (ids are how evolved tables keep reading
    // their old files) — only table CREATION derives a schema from the
    // DataFrame, with ids assigned 1..n
    val curSchemaId = prevMeta match {
      case Some(m) =>
        n.set[JsonNode]("schemas", m.path("schemas").deepCopy[JsonNode]())
        n.put("last-column-id", lastColumnId(m))
        m.path("current-schema-id").asInt(0)
      case None =>
        val schemas = n.putArray("schemas")
        val sc = schemas.addObject()
        sc.put("schema-id", 0); sc.put("type", "struct")
        val fields = sc.putArray("fields")
        schema.fields.zipWithIndex.foreach { case (fd, i) =>
          val fn = fields.addObject()
          fn.put("id", i + 1); fn.put("name", fd.name)
          fn.put("required", !fd.nullable)
          fn.put("type", icebergType(fd.dataType))
        }
        n.put("last-column-id", schema.fields.length)
        0
    }
    n.put("current-schema-id", curSchemaId)
    // partition specs carry forward; the unpartitioned spec 0 always
    // exists, and a partitioned append registers the identity spec 1
    val specs = n.putArray("partition-specs")
    val priorSpecIds: Set[Int] = prevMeta.toSeq.flatMap { m =>
      m.path("partition-specs").elements().asScala.map { s0 =>
        specs.add(s0.deepCopy[JsonNode]())
        s0.path("spec-id").asInt
      }
    }.toSet
    if (!priorSpecIds.contains(0)) {
      val sp = specs.addObject(); sp.put("spec-id", 0); sp.putArray("fields")
    }
    partSpec.filterNot(_ => priorSpecIds.contains(1)).foreach {
      case (fieldName, srcId, transform) =>
        val sp = specs.addObject(); sp.put("spec-id", 1)
        val fields = sp.putArray("fields")
        val fd = fields.addObject()
        fd.put("name", fieldName); fd.put("transform", transform)
        fd.put("source-id", srcId); fd.put("field-id", 1000)
    }
    n.put("default-spec-id", 0)
    n.put("current-snapshot-id", snapshotId)
    val snaps = n.putArray("snapshots")
    prevMeta.foreach(_.path("snapshots").elements().asScala.foreach(snaps.add))
    val s0 = snaps.addObject()
    s0.put("snapshot-id", snapshotId)
    s0.put("sequence-number", seqNo)
    s0.put("timestamp-ms", 1700000000000L + snapshotId)
    s0.put("manifest-list", listP.toString)
    s0.put("schema-id", curSchemaId) // what time travel reads with
    s0.putObject("summary").put("operation", operation)
    val out = f.create(new Path(root, s"metadata/v${prevVersion + 1}.metadata.json"), true)
    try out.write(M.writerWithDefaultPrettyPrinter().writeValueAsBytes(n))
    finally out.close()
    val hint = f.create(new Path(root, "metadata/version-hint.text"), true)
    try hint.write(String.valueOf(prevVersion + 1).getBytes) finally hint.close()
    snapshotId
  }

  /** Append `df` as a NEW snapshot of the Iceberg table at `dir`
    * (creating the table on first call). With `lineage = true`, the
    * append is a format-version-3 ROW-LINEAGE commit: each data file's
    * entry carries `first_row_id` ranged from the table's
    * `next-row-id` watermark, which the new metadata advances — the
    * v3 spec shape under which a row's `_row_id` = first_row_id +
    * position. Returns the snapshot id. */
  def append(df: DataFrame, dir: String, lineage: Boolean = false): Long = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val f = root.getFileSystem(conf)
    f.mkdirs(new Path(root, "metadata")); f.mkdirs(new Path(root, "data"))

    // field ids come from the CURRENT schema (stable across renames);
    // a brand-new table assigns 1..n positionally
    val idsByName: Map[String, Int] =
      readMeta(f, root, currentVersion(f, root)) match {
        case Some(m) =>
          val cur = currentFieldIds(m)
          require(df.columns.toSet == cur.map(_._1).toSet,
            s"append columns ${df.columns.toSeq} must match current schema ${cur.map(_._1)}")
          cur.toMap
        case None =>
          df.schema.fieldNames.zipWithIndex.map { case (n0, i) => n0 -> (i + 1) }.toMap
      }
    val dataFiles = Staging.stage(withFieldIds(df, idsByName), root)(_ => dataFile(root))
      .map(s => (s.path, s.len))

    val prevVersion = currentVersion(f, root)
    val snapshotId = prevVersion + 1L
    // ONE grouped aggregation over the staged files yields every
    // file's record count AND column bounds (was 2 jobs per file)
    val stats = allFileStats(spark, dataFiles.map(_._1.toString), idsByName)
    var rowId: Long =
      if (!lineage) -1L
      else readMeta(f, root, prevVersion)
        .flatMap(m => Option(m.get("next-row-id")).map(_.asLong)).getOrElse(0L)
    val entries = dataFiles.map { case (p, size) =>
      val (rows, bounds) = stats.getOrElse(canonPath(p.toString),
        throw new IllegalStateException(s"no stats row for $p"))
      val fr = if (!lineage) None else { val v = rowId; rowId += rows; Some(v) }
      graft.io.IcebergFormat.entry(0, p.toString, rows, size, snapshotId,
        snapshotId, bounds = bounds, firstRowId = fr)
    }
    val manifestP = new Path(root, s"metadata/manifest-$snapshotId.avro")
    writeAvro(f, manifestP, EntrySchema, entries)
    commitSnapshot(spark, dir, df.schema, Seq(ManifestRef(manifestP, 0)), "append",
      formatVersion = if (lineage) 3 else 2,
      nextRowId = if (lineage) Some(rowId) else None)
  }

  /** Append `df` as a new snapshot PARTITIONED on `partCol` through an
    * Iceberg partition `transform` (`identity` — the default — a
    * temporal `year|month|day|hour`, `bucket[N]`, or `truncate[W]`):
    * ONE MANIFEST PER PARTITION VALUE, each manifest-list entry
    * carrying the spec's `field_summary` (lower = upper = the
    * TRANSFORMED value) — the layout a real Iceberg writer leaves
    * after per-partition writes, and the one manifest-LEVEL skipping
    * prunes before any manifest Avro is read. Source columns stay real
    * columns in the data files (Iceberg hidden partitioning never
    * removes them), so reads need no partition-tuple reconstruction.
    * The write is single-pass: one hive-partitioned write job + one
    * grouped stats job, regardless of the partition-value count. */
  def appendPartitioned(df: DataFrame, dir: String, partCol: String,
                        transform: String = "identity",
                        partName: String = null): Long = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val f = root.getFileSystem(conf)
    f.mkdirs(new Path(root, "metadata")); f.mkdirs(new Path(root, "data"))
    require(df.columns.contains(partCol), s"no partition column $partCol")
    val idsByName: Map[String, Int] =
      readMeta(f, root, currentVersion(f, root)) match {
        case Some(m) =>
          val cur = currentFieldIds(m)
          require(df.columns.toSet == cur.map(_._1).toSet,
            s"append columns ${df.columns.toSeq} must match current schema ${cur.map(_._1)}")
          cur.toMap
        case None =>
          df.schema.fieldNames.zipWithIndex.map { case (n0, i) => n0 -> (i + 1) }.toMap
      }
    import graft.io.IcebergTransforms
    import org.apache.spark.sql.functions.{col, datediff, lit, to_date, udf, unix_micros}
    val srcDt = df.schema(partCol).dataType
    val partDt = IcebergTransforms.resultType(transform, srcDt).getOrElse(
      throw new IllegalArgumentException(
        s"transform $transform unsupported on $srcDt"))
    // the per-row partition value: identity reuses the source column;
    // transforms normalize the source (micros / epoch days / long /
    // string) and evaluate through the SAME public-spec math the
    // reader prunes with, via a fixture-only UDF
    val pCol: org.apache.spark.sql.Column =
      if (transform == "identity") col(partCol)
      else {
        val norm = srcDt match {
          case TimestampType => unix_micros(col(partCol))
          case TimestampNTZType => unix_micros(col(partCol).cast(TimestampType))
          case DateType =>
            datediff(col(partCol), to_date(lit("1970-01-01"))).cast(LongType)
          case IntegerType | LongType => col(partCol).cast(LongType)
          case StringType => col(partCol)
          case other => throw new IllegalArgumentException(
            s"transform source type $other unsupported")
        }
        def ev(v: Any): Any = IcebergTransforms.eval(transform, srcDt, v)
          .getOrElse(throw new IllegalArgumentException(
            s"$transform undefined for $v"))
        (srcDt, partDt) match {
          case (StringType, StringType) =>
            udf((s: String) => ev(s).asInstanceOf[String]).apply(norm)
          case (StringType, IntegerType) =>
            udf((s: String) => ev(s).asInstanceOf[Int]).apply(norm)
          case (_, IntegerType) =>
            udf((v: java.lang.Long) => ev(v.longValue).asInstanceOf[Int]).apply(norm)
          case _ =>
            udf((v: java.lang.Long) =>
              ev(v.longValue).asInstanceOf[Number].longValue).apply(norm)
        }
      }
    val snapshotId = currentVersion(f, root) + 1L
    // ONE partitioned write job (hive-style value dirs) + ONE grouped
    // stats job, instead of a write+stats job pair per partition value
    def decode(raw: String): Any = partDt match {
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case StringType => raw
      case other => throw new IllegalArgumentException(
        s"partition value type $other unsupported")
    }
    val staged = Staging.stage(withFieldIds(df, idsByName).withColumn("_graft_p", pCol),
      root, Seq("_graft_p"))(_ => dataFile(root))
    val byValue = staged.groupBy(_.values)
    val filesOfValue: Seq[(Any, Seq[(Path, Long)])] = staged.map(_.values).distinct.map(v =>
      (decode(v.head.getOrElse(
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME)),
        byValue(v).map(s => (s.path, s.len))))
    val stats = allFileStats(spark,
      filesOfValue.flatMap(_._2.map(_._1.toString)), idsByName)
    val refs = filesOfValue.zipWithIndex.map { case ((v, files), i) =>
      val entries = files.map { case (p, size) =>
        val (rows, bounds) = stats.getOrElse(canonPath(p.toString),
          throw new IllegalStateException(s"no stats row for $p"))
        entry(0, p.toString, rows, size, snapshotId, bounds = bounds)
      }
      val manifestP = new Path(root, s"metadata/manifest-$snapshotId-$i.avro")
      writeAvro(f, manifestP, EntrySchema, entries)
      ManifestRef(manifestP, 0, specId = 1,
        summary = serializeBound(partDt, v).map(b => (b, b)))
    }
    val fieldName = Option(partName).getOrElse(
      if (transform == "identity") partCol
      else s"${partCol}_${transform.takeWhile(_ != '[')}")
    commitSnapshot(spark, dir, df.schema, refs, "append",
      partSpec = Some((fieldName, idsByName(partCol), transform)))
  }

  private def canonPath(p: String): String = p.replaceFirst("^file:/+", "/")

  private def dataFile(root: Path, prefix: String = ""): Path =
    new Path(root, s"data/$prefix${java.util.UUID.randomUUID()}.parquet")

  /** Per-file (record count, bound bytes) for a set of parquet files,
    * computed in ONE grouped aggregation keyed by
    * `_metadata.file_path`. */
  private def allFileStats(spark: SparkSession, paths: Seq[String],
      idsByName: Map[String, Int]): Map[String, (Long, Map[Int, (Array[Byte], Array[Byte])])] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val df = spark.read.parquet(paths: _*)
    val statCols = df.schema.fields.filter(f => f.dataType match {
      case IntegerType | LongType | FloatType | DoubleType | DateType
           | StringType | TimestampType | TimestampNTZType => true
      case _ => false
    }).map(_.name).filter(idsByName.contains).toSeq
    val aggs = count(lit(1)).as("_n") +:
      statCols.flatMap(c => Seq(min(col(c)), max(col(c))))
    df.groupBy(col("_metadata.file_path").as("_p"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val bounds = statCols.zipWithIndex.flatMap { case (c, i) =>
          val dt = df.schema(c).dataType
          for {
            lo <- serializeBound(dt, r.get(2 + 2 * i))
            hi <- serializeBound(dt, r.get(2 + 2 * i + 1))
          } yield idsByName(c) -> ((lo, hi))
        }.toMap
        canonPath(r.getString(0)) -> ((r.getLong(1), bounds))
      }.toMap
  }

  /** Commit a POSITION-DELETE snapshot: `deletes` are (data file path,
    * row position) pairs, written as a spec-shaped position-delete
    * parquet (`file_path` string, `pos` long) referenced by a DELETE
    * manifest (content=1, data_file.content=1). Returns the snapshot
    * id. */
  def deletePositions(spark: SparkSession, dir: String,
                      deletes: Seq[(String, Long)],
                      // when every delete targets ONE data file, a real
                      // writer may stamp the optional v2
                      // referenced_data_file field on the entry
                      stampReferencedDataFile: Boolean = false): Long = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val f = root.getFileSystem(conf)
    val prevVersion = currentVersion(f, root)
    require(prevVersion > 0, s"$dir has no snapshots to delete from")
    // (schemas carry forward in commitSnapshot — no rebuild needed)

    val dst = dataFile(root, "delete-")
    val len = Staging.stageOne(deletes.toDF("file_path", "pos"), root, dst)

    val snapshotId = prevVersion + 1L
    val refFile =
      if (stampReferencedDataFile && deletes.map(_._1).distinct.size == 1)
        Some(deletes.head._1)
      else None
    val e = entry(1, dst.toString, deletes.length.toLong, len, snapshotId,
      referencedDataFile = refFile)
    val manifestP = new Path(root, s"metadata/delete-manifest-$snapshotId.avro")
    writeAvro(f, manifestP, EntrySchema, Seq(e))
    commitSnapshot(spark, dir, StructType(Nil), Seq(ManifestRef(manifestP, 1)), "delete")
  }

  /** Commit an EQUALITY-DELETE snapshot: each row of `keys` deletes
    * every OLDER data row matching on `keys`' columns. Written as a
    * spec-shaped equality-delete parquet referenced by a DELETE
    * manifest entry carrying the matching `equality_ids` (resolved
    * from the current schema's field metadata — stable across
    * renames). Returns the snapshot id. */
  def deleteEqualities(spark: SparkSession, dir: String,
                       keys: DataFrame): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val f = root.getFileSystem(conf)
    val prevVersion = currentVersion(f, root)
    require(prevVersion > 0, s"$dir has no snapshots to delete from")
    val meta = readMeta(f, root, prevVersion).get
    val idsByName = currentFieldIds(meta).toMap
    val ids = keys.columns.toSeq.map(c => idsByName.getOrElse(c,
      throw new IllegalArgumentException(s"no column $c in current schema")))

    val dst = dataFile(root, "eq-delete-")
    Staging.stageOne(withFieldIds(keys, idsByName), root, dst)

    val snapshotId = prevVersion + 1L
    val nRows = spark.read.parquet(dst.toString).count()
    val e = entry(2, dst.toString, nRows, f.getFileStatus(dst).getLen,
      snapshotId, equalityIds = ids)
    val manifestP = new Path(root, s"metadata/eq-manifest-$snapshotId.avro")
    writeAvro(f, manifestP, EntrySchema, Seq(e))
    // schema arg is unused past creation (schemas carry forward)
    commitSnapshot(spark, dir, StructType(Nil), Seq(ManifestRef(manifestP, 1)), "delete")
  }

  /** Commit a format-version-3 DELETION-VECTOR snapshot: each
    * (data file path, positions) pair masks those row ordinals of that
    * file. Written as ONE Puffin file holding a `deletion-vector-v1`
    * blob per pair, referenced by a DELETE manifest whose entries
    * carry `referenced_data_file` + `content_offset` +
    * `content_size_in_bytes` — the v3 spec shape a real Iceberg writer
    * leaves. Bumps the table to format-version 3. Returns the snapshot
    * id. */
  def deleteVectors(spark: SparkSession, dir: String,
                    dvs: Seq[(String, Array[Long])]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val f = root.getFileSystem(conf)
    val prevVersion = currentVersion(f, root)
    require(prevVersion > 0, s"$dir has no snapshots to delete from")
    val snapshotId = prevVersion + 1L
    val puffinP = new Path(root, s"data/dv-$snapshotId.puffin")
    val refs = graft.io.IcebergFormat.writePuffinDvs(f, puffinP, dvs)
    val size = f.getFileStatus(puffinP).getLen
    val entries = refs.zip(dvs).map { case ((rf, off, sz), (_, positions)) =>
      graft.io.IcebergFormat.entry(1, puffinP.toString,
        positions.length.toLong, size, snapshotId, snapshotId,
        fileFormat = "PUFFIN", dvRef = Some((rf, off, sz)))
    }
    val manifestP = new Path(root, s"metadata/dv-manifest-$snapshotId.avro")
    writeAvro(f, manifestP, EntrySchema, entries)
    commitSnapshot(spark, dir, StructType(Nil), Seq(ManifestRef(manifestP, 1)),
      "delete", formatVersion = 3)
  }

  /** Metadata-only schema evolution: write v(N+1).metadata.json whose
    * schemas array gains one new entry (same snapshots, new
    * current-schema-id) — exactly what an Iceberg catalog commit of
    * ALTER TABLE does. `edit` mutates a copy of the current schema's
    * fields array and returns the new last-column-id. */
  private def evolve(spark: SparkSession, dir: String)
      (edit: (com.fasterxml.jackson.databind.node.ArrayNode, Int) => Int): Unit = {
    import scala.jdk.CollectionConverters._
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val f = root.getFileSystem(conf)
    val v = currentVersion(f, root)
    require(v > 0, s"$dir has no metadata to evolve")
    val m = readMeta(f, root, v).get.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    val schemas = m.path("schemas").asInstanceOf[ArrayNode]
    val maxSchemaId = schemas.elements().asScala
      .map(_.path("schema-id").asInt(0)).max
    val next = currentSchemaNode(m).deepCopy[JsonNode]().asInstanceOf[ObjectNode]
    next.put("schema-id", maxSchemaId + 1)
    val newLast = edit(next.path("fields").asInstanceOf[ArrayNode], lastColumnId(m))
    schemas.add(next)
    m.put("current-schema-id", maxSchemaId + 1)
    m.put("last-column-id", newLast)
    val out = f.create(new Path(root, s"metadata/v${v + 1}.metadata.json"), true)
    try out.write(M.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
    finally out.close()
    val hint = f.create(new Path(root, "metadata/version-hint.text"), true)
    try hint.write(String.valueOf(v + 1).getBytes) finally hint.close()
  }

  /** Rename a column; its FIELD ID is unchanged, so existing data
    * files keep reading through id resolution. */
  def renameColumn(spark: SparkSession, dir: String,
                   from: String, to: String): Unit =
    evolve(spark, dir) { (fields, last) =>
      import scala.jdk.CollectionConverters._
      import com.fasterxml.jackson.databind.node.ObjectNode
      val hits = fields.elements().asScala.collect {
        case fn: ObjectNode if fn.path("name").asText == from => fn
      }.toSeq
      require(hits.nonEmpty, s"no column $from to rename")
      hits.foreach(_.put("name", to))
      last
    }

  /** Add an optional column with a NEW field id (last-column-id + 1);
    * pre-existing files read it as null. */
  def addColumn(spark: SparkSession, dir: String,
                name: String, dt: DataType): Unit =
    evolve(spark, dir) { (fields, last) =>
      val fn = fields.addObject()
      fn.put("id", last + 1); fn.put("name", name)
      fn.put("required", false); fn.put("type", icebergType(dt))
      last + 1
    }

  /** Drop a column from the current schema; the id is never reused
    * and the bytes stay in old files (Iceberg drop semantics). */
  def dropColumn(spark: SparkSession, dir: String, name: String): Unit =
    evolve(spark, dir) { (fields, last) =>
      import scala.jdk.CollectionConverters._
      val idx = fields.elements().asScala.indexWhere(_.path("name").asText == name)
      require(idx >= 0, s"no column $name to drop")
      fields.remove(idx)
      last
    }
}
