package graft.io

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

/** Spec-level building blocks of the Apache Iceberg v2 FILE FORMAT
  * (iceberg.apache.org/spec/ — the Avro manifest / manifest-list
  * record shapes, the binary single-value bound serialization, and
  * the Iceberg type names), shared by the two writers in this repo:
  * [[graft.tools.IcebergFixture]] (test fixtures laid out by the
  * published spec) and [[IcebergUniform]] (the product-side Iceberg
  * metadata a uniform-enabled Delta table maintains on every commit).
  * Nothing here is graft-specific — it is a direct rendering of the
  * spec's published schemas. */
private[graft] object IcebergFormat {

  /** Reserved field ids of the v3 ROW-LINEAGE metadata columns
    * (iceberg.apache.org/spec/ "Row Lineage" / reserved field ids):
    * `_row_id` and `_last_updated_sequence_number`, materialized as
    * physical parquet columns whenever a rewrite moves rows (so ids
    * survive compaction and MoR updates) and otherwise inherited from
    * the file's `first_row_id` + position / data sequence number. */
  val RowIdFieldId = 2147483540L
  val LastUpdatedSeqFieldId = 2147483539L
  val RowIdCol = "_row_id"
  val LastUpdatedSeqCol = "_last_updated_sequence_number"

  val EntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int"},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
      |  {"name":"referenced_data_file","type":["null","string"],"default":null},
      |  {"name":"content_offset","type":["null","long"],"default":null},
      |  {"name":"content_size_in_bytes","type":["null","long"],"default":null},
      |  {"name":"first_row_id","type":["null","long"],"default":null},
      |  {"name":"sort_order_id","type":["null","int"],"default":null},
      |  {"name":"lower_bounds","type":["null",{"type":"array","items":
      |    {"type":"record","name":"k_v","fields":[
      |      {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],"default":null},
      |  {"name":"upper_bounds","type":["null",{"type":"array","items":"k_v"}],"default":null}
      |]}}]}""".stripMargin)

  val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"added_snapshot_id","type":"long"},
      |{"name":"partitions","type":["null",{"type":"array","items":
      |  {"type":"record","name":"field_summary","fields":[
      |    {"name":"contains_null","type":"boolean"},
      |    {"name":"lower_bound","type":["null","bytes"],"default":null},
      |    {"name":"upper_bound","type":["null","bytes"],"default":null}]}}],
      | "default":null}]}""".stripMargin)

  /** All records of one Avro container file (manifest / manifest
    * list) — driver-side, metadata-sized by construction. */
  def readAvro(conf: org.apache.hadoop.conf.Configuration,
               p: Path): Seq[org.apache.avro.generic.GenericRecord] = {
    val in = new org.apache.avro.mapred.FsInput(p, conf)
    val r = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      in, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try {
      val b = Seq.newBuilder[org.apache.avro.generic.GenericRecord]
      while (r.hasNext) b += r.next()
      b.result()
    } finally r.close()
  }

  /** Write one Avro container file through the Hadoop FileSystem (so
    * the same code serves local tests and object-store tables). */
  def writeAvro(f: FileSystem, path: Path, schema: Schema,
                records: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    val out = f.create(path, true)
    w.create(schema, out) // DataFileWriter.close() closes the stream
    try records.foreach(w.append) finally w.close()
  }

  /** The source manifest-entry writer schema, widened (only if
    * needed) with the fields a row-lineage rewrite must stamp:
    * entry-level `snapshot_id`/`sequence_number` and the data_file's
    * `first_row_id`. Everything ELSE — a foreign writer's partition
    * tuple, value/null/nan counts, split offsets — keeps its original
    * field and sub-schema, so carrying an entry through a lineage
    * rewrite loses nothing. */
  def lineageEntrySchema(src: Schema): Schema = {
    import scala.jdk.CollectionConverters._
    val optLong = Schema.createUnion(
      Schema.create(Schema.Type.NULL), Schema.create(Schema.Type.LONG))
    val dfSrc = src.getField("data_file").schema()
    require(dfSrc.getType == Schema.Type.RECORD,
      s"manifest entry data_file must be a record (got ${dfSrc.getType})")
    val dfOk = dfSrc.getField("first_row_id") != null
    val entryOk = src.getField("snapshot_id") != null &&
      src.getField("sequence_number") != null
    if (dfOk && entryOk) return src
    def copyField(fl: Schema.Field, sch: Schema): Schema.Field =
      new Schema.Field(fl.name, sch, fl.doc,
        if (fl.hasDefaultValue) fl.defaultVal else null)
    val dfOut =
      if (dfOk) dfSrc
      else {
        val r = Schema.createRecord(dfSrc.getName, dfSrc.getDoc,
          dfSrc.getNamespace, false)
        r.setFields((dfSrc.getFields.asScala.map(fl => copyField(fl, fl.schema)) :+
          new Schema.Field("first_row_id", optLong, null,
            Schema.Field.NULL_DEFAULT_VALUE)).asJava)
        r
      }
    val out = Schema.createRecord(src.getName, src.getDoc, src.getNamespace, false)
    val base = src.getFields.asScala.map { fl =>
      if (fl.name == "data_file") copyField(fl, dfOut) else copyField(fl, fl.schema)
    }
    val extra = Seq("snapshot_id", "sequence_number")
      .filter(src.getField(_) == null)
      .map(nm => new Schema.Field(nm, optLong, null, Schema.Field.NULL_DEFAULT_VALUE))
    out.setFields((base ++ extra).asJava)
    out
  }

  /** Shallow re-home of a generic record onto `out` (same-named
    * fields copy; sub-values keep their original sub-schemas, which
    * `out` reuses by construction). */
  def recordTo(out: Schema, src: GenericRecord): GenericData.Record = {
    import scala.jdk.CollectionConverters._
    val r = new GenericData.Record(out)
    out.getFields.asScala.foreach { fl =>
      if (src.getSchema.getField(fl.name) != null) r.put(fl.name, src.get(fl.name))
    }
    r
  }

  /** Spark type → Iceberg primitive type name. Unsupported types
    * refuse by name rather than misdeclare. */
  def icebergType(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case StringType => "string"
    case DoubleType => "double"
    case FloatType => "float"
    case BooleanType => "boolean"
    case DateType => "date"
    case TimestampNTZType => "timestamp"  // no zone in the spec's "timestamp"
    case TimestampType => "timestamptz"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"type $other has no Iceberg mapping")
  }

  /** The spec's binary single-value serialization (little-endian) for
    * the bound-able primitive types. Strings bound only when short
    * (spec truncation must round the UPPER bound up — only exact
    * short values get bounds here). */
  def serializeBound(dt: DataType, v: Any): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    (dt, v) match {
      case (_, null) => None
      case (IntegerType, x: Int) => Some(le(4).putInt(x).array())
      case (LongType, x: Long) => Some(le(8).putLong(x).array())
      case (FloatType, x: Float) => Some(le(4).putFloat(x).array())
      case (DoubleType, x: Double) => Some(le(8).putDouble(x).array())
      case (DateType, x: java.sql.Date) =>
        Some(le(4).putInt(x.toLocalDate.toEpochDay.toInt).array())
      case (DateType, x: java.time.LocalDate) =>
        Some(le(4).putInt(x.toEpochDay.toInt).array())
      case (TimestampType, x: java.sql.Timestamp) =>
        val i = x.toInstant
        Some(le(8).putLong(i.getEpochSecond * 1000000L + i.getNano / 1000L).array())
      case (TimestampType, x: java.time.Instant) =>
        Some(le(8).putLong(x.getEpochSecond * 1000000L + x.getNano / 1000L).array())
      case (TimestampNTZType, x: java.time.LocalDateTime) =>
        val i = x.toInstant(java.time.ZoneOffset.UTC)
        Some(le(8).putLong(i.getEpochSecond * 1000000L + i.getNano / 1000L).array())
      case (StringType, x: String) =>
        val b = x.getBytes("UTF-8")
        if (b.length <= 32) Some(b) else None
      case _ => None // binaries/nested: skipped (no bound, no pruning)
    }
  }

  // ---- Iceberg v3 deletion vectors (Puffin `deletion-vector-v1`) ----
  // The spec frames each DV blob as: 4-byte big-endian length of
  // (magic + vector), the 4 magic bytes D1 D3 39 64, the vector in the
  // SAME portable RoaringBitmapArray serialization Delta DVs use
  // (adopted deliberately for cross-format compatibility), and a
  // 4-byte big-endian CRC-32 of (magic + vector). The manifest entry
  // addresses the blob directly via content_offset /
  // content_size_in_bytes, so reads never parse the Puffin footer.

  private val DvMagic: Array[Byte] =
    Array(0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)

  /** Write a minimal spec-shaped Puffin file holding one
    * `deletion-vector-v1` blob per (referenced data file, positions)
    * pair. Returns (referenced file, content offset, content size)
    * per blob — what the delete manifest entries record. */
  def writePuffinDvs(f: FileSystem, path: Path,
                     dvs: Seq[(String, Array[Long])]): Seq[(String, Long, Long)] =
    writePuffinDvBlobs(f, path, dvs.map { case (rf, positions) =>
      (rf, DeletionVectors.serialize(positions), positions.length.toLong)
    })

  /** [[writePuffinDvs]] over ALREADY-SERIALIZED portable roaring
    * vectors (the executor-side [[graft.functions.expressions.DvBitmapAgg]]
    * output) — the write path never expands a bitmap into positions. */
  def writePuffinDvBlobs(f: FileSystem, path: Path,
                         dvs: Seq[(String, Array[Byte], Long)]): Seq[(String, Long, Long)] = {
    val magic = "PFA1".getBytes("UTF-8")
    val out = f.create(path, true)
    val refs = Seq.newBuilder[(String, Long, Long)]
    val blobMeta = Seq.newBuilder[(String, Long, Long, Long)]
    try {
      out.write(magic)
      var pos = 4L
      dvs.foreach { case (refFile, vector, card) =>
        val body = DvMagic ++ vector
        val crc = new java.util.zip.CRC32()
        crc.update(body)
        val blob = java.nio.ByteBuffer.allocate(4).putInt(body.length).array() ++
          body ++
          java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
        out.write(blob)
        refs += ((refFile, pos, blob.length.toLong))
        blobMeta += ((refFile, pos, blob.length.toLong, card))
        pos += blob.length
      }
      // footer: Magic, payload JSON, payload size (4B little-endian),
      // flags, Magic — written for spec shape; reads go by manifest
      // offsets
      val payload = {
        val items = blobMeta.result().map { case (rf, o, l, card) =>
          s"""{"type":"deletion-vector-v1","fields":[],"snapshot-id":1,""" +
            s""""sequence-number":1,"offset":$o,"length":$l,""" +
            s""""properties":{"referenced-data-file":"$rf","cardinality":"$card"}}"""
        }.mkString(",")
        s"""{"blobs":[$items],"properties":{}}""".getBytes("UTF-8")
      }
      out.write(magic)
      out.write(payload)
      out.write(java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(payload.length).array())
      out.write(Array[Byte](0, 0, 0, 0)) // flags: uncompressed footer
      out.write(magic)
    } finally out.close()
    refs.result()
  }

  /** One Puffin STATISTICS blob: the spec's blob-metadata fields plus
    * the raw payload bytes (puffin-spec: Magic, blobs, footer =
    * Magic + JSON payload + size(4B LE) + flags(4B) + Magic). */
  final case class StatsBlob(blobType: String, fields: Seq[Int],
                             snapshotId: Long, sequenceNumber: Long,
                             properties: Map[String, String],
                             payload: Array[Byte])

  /** Write a Puffin STATISTICS file. Blob `offset`/`length` address the
    * RAW payload bytes (no wrapper — the DV path's length-prefix/CRC
    * framing is its own manifest-addressed convention). Returns
    * (fileSize, footerSize) — what the table metadata's `statistics`
    * entry records. */
  def writePuffinStats(f: FileSystem, path: Path,
                       blobs: Seq[StatsBlob]): (Long, Long) = {
    val magic = "PFA1".getBytes("UTF-8")
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val out = f.create(path, true)
    try {
      out.write(magic)
      var pos = 4L
      val metas = blobs.map { b =>
        out.write(b.payload)
        val m =
          s"""{"type":${jstr(b.blobType)},""" +
          s""""fields":[${b.fields.mkString(",")}],""" +
          s""""snapshot-id":${b.snapshotId},""" +
          s""""sequence-number":${b.sequenceNumber},""" +
          s""""offset":$pos,"length":${b.payload.length},""" +
          s""""properties":{${b.properties.toSeq.sortBy(_._1).map {
            case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")}}}"""
        pos += b.payload.length
        m
      }
      val payload =
        s"""{"blobs":[${metas.mkString(",")}],"properties":{}}""".getBytes("UTF-8")
      out.write(magic)
      out.write(payload)
      out.write(java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(payload.length).array())
      out.write(Array[Byte](0, 0, 0, 0)) // flags: uncompressed footer
      out.write(magic)
      val footerSize = 4L + payload.length + 4 + 4 + 4
      (pos + footerSize, footerSize)
    } finally out.close()
  }

  /** Parse a Puffin file's FOOTER into its blob metadata — the
    * engine-consumed half of a statistics file (readers take the
    * `ndv`-style properties; payloads only matter to writers that can
    * deserialize the blob type). */
  def readPuffinFooter(conf: org.apache.hadoop.conf.Configuration,
                       path: Path): Seq[StatsBlob] = {
    val f = path.getFileSystem(conf)
    val len = f.getFileStatus(path).getLen
    val in = f.open(path)
    try {
      val tail = new Array[Byte](12) // size + flags + magic
      in.seek(len - 12); in.readFully(tail)
      require(tail.slice(8, 12).sameElements("PFA1".getBytes("UTF-8")),
        s"$path is not a Puffin file (no trailing magic)")
      val pSize = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val payload = new Array[Byte](pSize)
      in.seek(len - 12 - pSize); in.readFully(payload)
      val M = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = M.readTree(payload)
      import scala.jdk.CollectionConverters._
      root.path("blobs").elements().asScala.map { b =>
        val off = b.path("offset").asLong
        val blen = b.path("length").asLong
        val body = new Array[Byte](blen.toInt)
        in.seek(off); in.readFully(body)
        StatsBlob(b.path("type").asText,
          b.path("fields").elements().asScala.map(_.asInt).toSeq,
          b.path("snapshot-id").asLong, b.path("sequence-number").asLong,
          b.path("properties").properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap,
          body)
      }.toSeq
    } finally in.close()
  }

  /** [[readPuffinDv]] returning the RAW serialized vector bytes (what
    * [[DeletionVectors.parse]] accepts) — for shipping a KB blob to
    * executors instead of a parsed driver-side bitmap. */
  def readPuffinDvBytes(conf: org.apache.hadoop.conf.Configuration, path: Path,
                        offset: Long, size: Long): Array[Byte] = {
    val f = path.getFileSystem(conf)
    val in = f.open(path)
    try {
      in.seek(offset)
      val lenBuf = new Array[Byte](4)
      in.readFully(lenBuf)
      val len = java.nio.ByteBuffer.wrap(lenBuf).getInt
      require(len > 4 && (size <= 0 || len <= size),
        s"DV blob at $path+$offset: implausible length $len for size $size")
      val body = new Array[Byte](len)
      in.readFully(body)
      require(body.take(4).sameElements(DvMagic),
        s"DV blob at $path+$offset lacks the deletion-vector-v1 magic")
      body.drop(4)
    } finally in.close()
  }

  /** Read one `deletion-vector-v1` blob addressed by a delete
    * manifest entry's content_offset/content_size_in_bytes. */
  def readPuffinDv(conf: org.apache.hadoop.conf.Configuration, path: Path,
                   offset: Long, size: Long): RoaringBitmapArray = {
    val f = path.getFileSystem(conf)
    val in = f.open(path)
    try {
      in.seek(offset)
      val lenBuf = new Array[Byte](4)
      in.readFully(lenBuf)
      val len = java.nio.ByteBuffer.wrap(lenBuf).getInt
      require(len > 4 && (size <= 0 || len <= size),
        s"DV blob at $path+$offset: implausible length $len for size $size")
      val body = new Array[Byte](len)
      in.readFully(body)
      val crcBuf = new Array[Byte](4)
      in.readFully(crcBuf)
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      require(java.nio.ByteBuffer.wrap(crcBuf).getInt == crc.getValue.toInt,
        s"DV blob checksum mismatch at $path+$offset")
      require(body.take(4).sameElements(DvMagic),
        s"DV blob at $path+$offset lacks the deletion-vector-v1 magic")
      DeletionVectors.parse(body.drop(4))
    } finally in.close()
  }

  /** Build one manifest_entry record for a file descriptor. `bounds`
    * are per-field-id (lower, upper) single-value serializations. */
  def entry(content: Int, path: String, rows: Long, size: Long,
            snapshotId: Long, sequenceNumber: Long,
            equalityIds: Seq[Int] = Nil,
            bounds: Map[Int, (Array[Byte], Array[Byte])] = Map.empty,
            fileFormat: String = "PARQUET",
            dvRef: Option[(String, Long, Long)] = None,
            firstRowId: Option[Long] = None,
            // v2 position deletes targeting a single data file MAY set
            // referenced_data_file WITHOUT the v3 content_offset/size
            // (spec: optional on position deletes) — real writers do
            referencedDataFile: Option[String] = None,
            // 1 = ADDED (default), 0 = EXISTING (a compaction's
            // carried-forward entries keep their original sequence
            // numbers under status 0 — incremental tailers skip them)
            status: Int = 1,
            // the sort order the file's rows were written under
            sortOrderId: Option[Int] = None): GenericRecord = {
    val dfSchema = EntrySchema.getField("data_file").schema()
    val dfRec = new GenericData.Record(dfSchema)
    dfRec.put("content", content)
    dfRec.put("file_path", path)
    dfRec.put("file_format", fileFormat)
    dfRec.put("record_count", rows)
    dfRec.put("file_size_in_bytes", size)
    dvRef.foreach { case (refFile, off, sz) =>
      dfRec.put("referenced_data_file", refFile)
      dfRec.put("content_offset", off)
      dfRec.put("content_size_in_bytes", sz)
    }
    referencedDataFile.foreach(rf => dfRec.put("referenced_data_file", rf))
    firstRowId.foreach(id => dfRec.put("first_row_id", id))
    sortOrderId.foreach(id => dfRec.put("sort_order_id", id))
    if (equalityIds.nonEmpty) {
      val arr = new GenericData.Array[Integer](equalityIds.length,
        dfSchema.getField("equality_ids").schema().getTypes.get(1))
      equalityIds.foreach(i => arr.add(Integer.valueOf(i)))
      dfRec.put("equality_ids", arr)
    }
    if (bounds.nonEmpty) {
      def kvArray(fieldName: String, pick: ((Array[Byte], Array[Byte])) => Array[Byte]) = {
        val arrT = dfSchema.getField(fieldName).schema().getTypes.get(1)
        val kvT = arrT.getElementType
        val arr = new GenericData.Array[GenericRecord](bounds.size, arrT)
        bounds.toSeq.sortBy(_._1).foreach { case (id, b) =>
          val kv = new GenericData.Record(kvT)
          kv.put("key", id)
          kv.put("value", java.nio.ByteBuffer.wrap(pick(b)))
          arr.add(kv)
        }
        arr
      }
      dfRec.put("lower_bounds", kvArray("lower_bounds", _._1))
      dfRec.put("upper_bounds", kvArray("upper_bounds", _._2))
    }
    val e = new GenericData.Record(EntrySchema)
    e.put("status", status)
    e.put("snapshot_id", snapshotId)
    e.put("sequence_number", sequenceNumber)
    e.put("data_file", dfRec)
    e
  }
}
