package graft.io

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** READ-ONLY interop for FOREIGN Apache Iceberg tables (format spec at
  * iceberg.apache.org/spec/): a migration-path reader so an
  * append-only Iceberg v1/v2 table can join graft pipelines without a
  * rewrite — the same role the Delta log replay plays for delta-spark
  * tables.
  *
  * Scope is deliberate and loud:
  *   - APPEND-ONLY tables read green: current (or time-traveled)
  *     snapshot → manifest list → data manifests → live parquet files.
  *   - POSITION deletes (v2 `content=1` delete files of
  *     `file_path`/`pos` rows) apply IN-PLAN: an anti-join of the data
  *     scan's `_metadata.file_path`/`_metadata.row_index` against one
  *     parquet read of the delete files — no driver row work, delete
  *     side broadcast-sized in practice. Safe without sequence-number
  *     ordering because a position delete names its target file by
  *     immutable unique path.
  *   - EQUALITY deletes (v2 `content=2` files of equality-column
  *     values) apply with the spec's sequence-number ordering: a
  *     delete at sequence S removes only rows of data files with
  *     data sequence < S. Each row's sequence number rides a
  *     broadcast join on the (file-count-bounded) path→seq map; one
  *     null-safe anti-join per distinct equality-column set.
  *   - format-version 3 reads: DELETION VECTORS (Puffin
  *     `deletion-vector-v1` blobs, addressed by the delete manifest's
  *     content_offset/size) apply as the SAME codegen broadcast-bitmap
  *     filter Delta DVs use — the two formats share the portable
  *     roaring serialization by design. ROW LINEAGE surfaces on
  *     request (`withLineage = true`): `_row_id` = the file's
  *     first_row_id + row position, attached via one broadcast
  *     path-to-first_row_id join BEFORE masking, so DV survivors keep
  *     their original ids.
  *   - SCHEMA EVOLUTION reads correctly: columns resolve by Iceberg
  *     FIELD ID (`parquet.field.id` metadata on the pinned schema +
  *     Spark's field-id parquet resolution), so renamed columns keep
  *     reading their old files, added columns surface null for
  *     pre-add files, dropped columns disappear without touching
  *     data, and snapshot time travel reads with the schema the
  *     snapshot was committed under (`schema-id`).
  *
  * Scale shape: metadata work is manifest-file-count-bounded (the
  * Avro manifests are read driver-side like the Delta JSON log; each
  * is a bounded list of file descriptors), and the data scan is one
  * Spark parquet read over the live file set with the table schema
  * pinned from metadata — Catalyst prunes columns and pushes filters
  * exactly as for any parquet scan. Iceberg data files materialize
  * identity-partition columns as real columns, so no partition-value
  * reconstruction is needed. */
object IcebergInterop {

  private val M = new ObjectMapper()

  /** Latest metadata JSON under `dir/metadata`: `version-hint.text`
    * when present (the file-system-catalog convention), else the
    * highest `v<N>.metadata.json`. */
  private[graft] def currentMetadataPath(spark: SparkSession, dir: String): Path = {
    val meta = new Path(dir, "metadata")
    val f = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(meta), s"$dir has no metadata/ dir — not an Iceberg table")
    val hint = new Path(meta, "version-hint.text")
    val hinted: Option[Path] =
      if (!f.exists(hint)) None
      else {
        // the hint is ADVISORY (and written non-atomically by some
        // writers): an empty/garbled read — a concurrent hint rewrite,
        // whose checksum sidecar may not match — or a missing named
        // file falls back to the listing, which is ground truth in the
        // FS-catalog convention
        val v =
          try {
            val in = f.open(hint)
            try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
          } catch { case _: java.io.IOException => "" }
        Some(new Path(meta, s"v$v.metadata.json"))
          .filter(_ => v.nonEmpty && v.forall(_.isDigit)).filter(f.exists)
      }
    hinted.getOrElse {
      val vs = f.listStatus(meta).map(_.getPath.getName)
        .flatMap { n =>
          val m = """v(\d+)\.metadata\.json""".r.findFirstMatchIn(n)
          m.map(_.group(1).toLong -> n)
        }
      require(vs.nonEmpty, s"no v*.metadata.json under $meta")
      new Path(meta, vs.maxBy(_._1)._2)
    }
  }

  private[graft] def readJson(spark: SparkSession, p: Path): JsonNode = {
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    try M.readTree(in) finally in.close()
  }

  /** Iceberg type string/node → Spark type. Unsupported types refuse
    * by name rather than misread. */
  private def toSparkType(t: JsonNode): DataType =
    if (t.isTextual) t.asText match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "string" => StringType
      case "binary" => BinaryType
      case "date" => DateType
      case "timestamp" => TimestampNTZType   // no zone in the spec's "timestamp"
      case "timestamptz" => TimestampType
      case d if d.startsWith("decimal(") =>
        val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(',')
        DecimalType(p.trim.toInt, s.trim.toInt)
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg type: $other")
    } else t.path("type").asText match {
      case "struct" =>
        StructType(fieldsOf(t.path("fields")))
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg nested type: $other (struct only)")
    }

  /** Spark's parquet field-id resolution key: a StructField carrying
    * this metadata is matched to the file column by ICEBERG FIELD ID,
    * not by name, when `spark.sql.parquet.fieldId.read.enabled` is on.
    * This is how Iceberg schema evolution works — renames/reorders
    * change names, never ids — so every schema this reader pins
    * carries the ids. */
  private val FieldIdKey = "parquet.field.id"
  private val RowIdFieldId = IcebergFormat.RowIdFieldId
  private val LastUpdatedSeqFieldId = IcebergFormat.LastUpdatedSeqFieldId
  private def fieldIdMeta(id: Long) =
    new MetadataBuilder().putLong(FieldIdKey, id).build()

  /** v3 field default values ride the schema JSON as
    * `initial-default` (the value rows written BEFORE the field was
    * added must read as) and `write-default`; the raw JSON is carried
    * in the StructField metadata so the scan can apply it per file. */
  private[io] val InitialDefaultKey = "iceberg.initial-default"

  private def fieldsOf(fields: JsonNode): Seq[StructField] = {
    import scala.jdk.CollectionConverters._
    fields.elements().asScala.map { fd =>
      val f = StructField(fd.path("name").asText, toSparkType(fd.path("type")),
        nullable = !fd.path("required").asBoolean(false))
      val mb = new MetadataBuilder()
      if (fd.path("id").isInt) mb.putLong(FieldIdKey, fd.path("id").asLong)
      if (fd.has("initial-default") && !fd.path("initial-default").isNull)
        mb.putString(InitialDefaultKey, fd.path("initial-default").toString)
      val meta = mb.build()
      if (meta == org.apache.spark.sql.types.Metadata.empty) f
      else f.copy(metadata = meta)
    }.toSeq
  }

  /** The schema's fields carrying a v3 `initial-default`:
    * (field, field id, raw default JSON). */
  private[graft] def initialDefaultFields(
      schema: StructType): Seq[(StructField, Long, String)] =
    schema.fields.toSeq.flatMap { sf =>
      if (sf.metadata.contains(InitialDefaultKey) &&
          sf.metadata.contains(FieldIdKey))
        Some((sf, sf.metadata.getLong(FieldIdKey),
          sf.metadata.getString(InitialDefaultKey)))
      else None
    }

  /** Patch `raw` (a parquet scan exposing `_metadata`) so fields with
    * a v3 `initial-default` read the DEFAULT (not null) from files
    * that PREDATE the field. Applicability resolves per file
    * METADATA-ONLY: `fileSnap` maps each canonical file path to its
    * ADDING snapshot, the snapshot pins a schema-id, and that schema
    * either contains the field id or predates it — then one broadcast
    * (path → needs-default flag) join patches the columns. A file
    * whose adding snapshot has been expired out of the metadata
    * refuses by name (silently reading null where the spec requires
    * the default is the one wrong answer). No-op (zero cost) when the
    * schema declares no defaults. */
  private[graft] def applyInitialDefaults(spark: SparkSession,
      meta: => JsonNode, raw: DataFrame, schema: StructType,
      fileSnap: => Map[String, (Long, Long)],
      // the snapshot's manifest list: above the shared driver gate
      // ([[IcebergChangelog.lineageDriverManifests]]) the
      // path→needs-default flags build DISTRIBUTED from it (manifests
      // parse on executors) instead of materializing a driver list —
      // the million-file-table shape. None = always the driver path.
      manifestList: => Option[String] = None): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.{broadcast, col, when}
    val defFields = initialDefaultFields(schema)
    if (defFields.isEmpty) return raw
    val m = meta // bind the by-name metadata ONCE: one read, one version
    val schemaFieldIds: Map[Int, Set[Long]] =
      (if (m.has("schemas")) m.path("schemas").elements().asScala.toSeq
       else Seq(m.path("schema"))).map { s1 =>
        s1.path("schema-id").asInt(0) ->
          s1.path("fields").elements().asScala.map(_.path("id").asLong).toSet
      }.toMap
    val snapSchemaId: Map[Long, Int] =
      m.path("snapshots").elements().asScala.map(s1 =>
        s1.path("snapshot-id").asLong(-1L) ->
          (if (s1.has("schema-id")) s1.path("schema-id").asInt else -1)).toMap
    // expiry-safe fallback: a graft addColumn-with-default stamps the
    // sequence at add time — files with data sequence ≤ it predate the
    // field even when their adding snapshot has been expired
    val addedSeqOf: Map[Long, Long] = defFields.flatMap { case (_, fid, _) =>
      val p = m.path("properties").path(s"graft.field-added-seq.$fid")
      if (p.isMissingNode || p.isNull) None else Some(fid -> p.asText.toLong)
    }.toMap
    def missingFids(path: String, snapId: Long, dataSeq: Long): Set[Long] = {
      val scId = snapSchemaId.getOrElse(snapId, -2)
      if (scId >= 0) {
        val have = schemaFieldIds.getOrElse(scId,
          throw new IllegalArgumentException(
            s"schema-id $scId not in table metadata"))
        defFields.map(_._2).filterNot(have.contains).toSet
      } else defFields.map(_._2).filter { fid =>
        addedSeqOf.get(fid) match {
          case Some(addSeq) => dataSeq <= addSeq
          case None => throw new IllegalArgumentException(
            s"data file $path was added by snapshot $snapId which is " +
            "no longer in table metadata (and carries no schema-id " +
            "fallback) — cannot resolve v3 initial-default " +
            "applicability; compact the table first")
        }
      }.toSet
    }
    val defSchema = StructType(
      StructField("_def_path", StringType) +:
        defFields.map { case (_, fid, _) =>
          StructField(s"_def_$fid", BooleanType) })
    val fids = defFields.map(_._2)
    val dataMans: Seq[(String, Long, Long)] = manifestList.toSeq.flatMap { ml =>
      avroRecords(spark, new Path(resolve(ml)))
        .filter(r => Option(r.get("content")).forall(
          _.asInstanceOf[Number].intValue == 0))
        .map(r => (resolve(r.get("manifest_path").toString),
          Option(r.get("sequence_number"))
            .map(_.asInstanceOf[Number].longValue).getOrElse(0L),
          Option(r.get("added_snapshot_id"))
            .map(_.asInstanceOf[Number].longValue).getOrElse(-1L)))
    }
    val defDf: DataFrame =
      if (dataMans.nonEmpty &&
          dataMans.size > IcebergChangelog.lineageDriverManifests(spark)) {
        // DISTRIBUTED flags: the driver holds manifest paths only;
        // each executor parses its manifests and resolves
        // applicability from the (small) schema/snapshot maps the
        // closure captures. Bit-identical to the driver path — only
        // where the rows materialize differs; the planner sizes the
        // join itself (broadcast when small, shuffle when not).
        val sconf = org.apache.spark.sql.GraftBridge.serializableConf(spark)
        val mf: (String, Long, Long) => Set[Long] = missingFids
        val rows = spark.sparkContext
          .parallelize(dataMans, math.max(1, math.min(dataMans.size, 256)))
          .flatMap { case (mp, mSeq, mSnap) =>
            IcebergFormat.readAvro(sconf.value, new Path(mp))
              .filter(e => Option(e.get("status")).forall(
                _.asInstanceOf[Number].intValue != 2))
              .map { e =>
                val df0 = e.get("data_file")
                  .asInstanceOf[org.apache.avro.generic.GenericRecord]
                val p = canonPathStr(resolve(df0.get("file_path").toString))
                def gn(n: String): Option[Long] =
                  Option(e.getSchema.getField(n)).flatMap(_ => Option(e.get(n)))
                    .map(_.asInstanceOf[Number].longValue)
                val miss = mf(p, gn("snapshot_id").getOrElse(mSnap),
                  gn("sequence_number").getOrElse(mSeq))
                org.apache.spark.sql.Row.fromSeq(p +: fids.map(miss.contains))
              }
          }
        spark.createDataFrame(rows, defSchema)
      } else {
        val rowsJ = fileSnap.toSeq.map { case (p, (sid, seq)) =>
          val miss = missingFids(p, sid, seq)
          org.apache.spark.sql.Row.fromSeq(p +: fids.map(miss.contains))
        }.asJava
        broadcast(spark.createDataFrame(rowsJ, defSchema))
      }
    var b = raw.withColumn("_def_p", canonPath(col("_metadata.file_path")))
      .join(defDf, col("_def_p") === col("_def_path"), "left")
    defFields.foreach { case (sf, fid, json) =>
      b = b.withColumn(sf.name,
        when(col(s"_def_$fid") === true,
          defaultLiteral(sf.dataType, json).cast(sf.dataType))
          .otherwise(col(sf.name)))
    }
    b.drop("_def_p" +: "_def_path" +: defFields.map(f => s"_def_${f._2}"): _*)
  }

  /** Per-column ready-to-use literals for the schema's v3
    * `write-default` fields — the write funnel fills these in when a
    * frame omits the column. */
  private[io] def writeDefaultColumns(
      schemaNode: JsonNode): Map[String, org.apache.spark.sql.Column] = {
    import scala.jdk.CollectionConverters._
    schemaNode.path("fields").elements().asScala.flatMap { fd =>
      if (fd.has("write-default") && !fd.path("write-default").isNull)
        Some(fd.path("name").asText -> defaultLiteral(
          toSparkType(fd.path("type")), fd.path("write-default").toString))
      else None
    }.toMap
  }

  /** A Spark literal for a v3 default value (the spec's JSON
    * single-value serialization), typed by the FIELD's type. Types
    * without a supported mapping refuse by name — never a silent
    * null. */
  private[io] def defaultLiteral(dt: DataType,
      json: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    dt match {
      case BooleanType => lit(node.asBoolean)
      case IntegerType => lit(node.asInt)
      case LongType => lit(node.asLong)
      case FloatType => lit(node.asDouble.toFloat)
      case DoubleType => lit(node.asDouble)
      case StringType => lit(node.asText)
      case DateType => lit(java.sql.Date.valueOf(node.asText))
      case TimestampNTZType =>
        lit(java.time.LocalDateTime.parse(node.asText))
      case TimestampType => lit(java.sql.Timestamp.from(
        java.time.OffsetDateTime.parse(node.asText).toInstant))
      case d: DecimalType =>
        lit(new java.math.BigDecimal(node.asText)).cast(d)
      case other => throw new IllegalArgumentException(
        s"v3 default value for type $other is not supported")
    }
  }

  /** The schema NODE to read with: `schemaId`'s entry when given (a
    * snapshot's pinned schema — time travel reads the shape the table
    * had THEN), else `current-schema-id`'s; v1 singular `schema`. */
  private def schemaNodeById(meta: JsonNode, schemaId: Option[Int]): JsonNode = {
    import scala.jdk.CollectionConverters._
    if (meta.has("schemas")) {
      val want = schemaId.getOrElse(meta.path("current-schema-id").asInt(0))
      meta.path("schemas").elements().asScala
        .find(_.path("schema-id").asInt(-1) == want)
        .getOrElse(throw new IllegalArgumentException(
          s"schema-id $want not in schemas"))
    } else meta.path("schema")
  }

  /** All records of one Avro container file (manifests are metadata:
    * file descriptor lists, read where the Delta JSON log is read). */
  private[io] def avroRecords(spark: SparkSession, p: Path): Seq[GenericRecord] = {
    val in = new FsInput(p, spark.sparkContext.hadoopConfiguration)
    val r = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try {
      val out = Seq.newBuilder[GenericRecord]
      while (r.hasNext) out += r.next()
      out.result()
    } finally r.close()
  }

  private def str(r: GenericRecord, field: String): String = {
    val v = r.get(field); require(v != null, s"manifest record lacks $field")
    v.toString
  }
  private def intOr(r: GenericRecord, field: String, dflt: Int): Int =
    Option(r.getSchema.getField(field)).flatMap(_ => Option(r.get(field)))
      .map(_.asInstanceOf[Number].intValue).getOrElse(dflt)

  /** Resolve a manifest's possibly-absolute file URI against this
    * table (file: URIs strip to paths; relative stays relative). */
  private[io] def resolve(uri: String): String =
    if (uri.startsWith("file:")) new java.net.URI(uri).getPath else uri

  /** One data file of a snapshot: path, DATA sequence number, and the
    * manifest's per-field-id (lower, upper) bound bytes — the
    * file-level data-skipping index (decoded lazily, only for fields a
    * range predicate names). */
  private final case class DataFileEntry(path: String, seq: Long,
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      firstRowId: Option[Long] = None,
      // the snapshot that ADDED the file (entry-level when present,
      // the manifest's added_snapshot_id otherwise; -1 = unknown/v1)
      // — v3 initial-default applicability resolves through it
      snapId: Long = -1L)

  /** A v3 deletion vector reference: the Puffin file holding the
    * blob, its offset/size, the data file it masks, and the entry's
    * sequence number (replacement ordering — at most one DV is LIVE
    * per data file; the highest sequence wins). */
  private final case class DvEntry(puffin: String, offset: Long, size: Long,
                                   ref: String, seq: Long)

  /** One live equality-delete file: its path, sequence number,
    * equality field ids, and the manifest entry's per-field-id key
    * bounds — the bounds let rollback diffing and compaction admit
    * only data files whose column ranges can intersect the delete's
    * keys (disjoint on ANY id ⇒ no tuple can match). */
  private[io] final case class EqDeleteFile(path: String, seq: Long,
      ids: Seq[Int], lower: Map[Int, Array[Byte]],
      upper: Map[Int, Array[Byte]])

  /** One snapshot's live file inventory, with the sequence numbers
    * delete application needs: data files carry their DATA sequence
    * number (entry-level when present, inherited from the manifest
    * otherwise); equality-delete files carry their sequence number and
    * equality field ids; v3 deletion vectors carry their blob address
    * and referenced data file. */
  private final case class SnapshotFiles(
      data: Seq[DataFileEntry],
      posDeletes: Seq[String],
      eqDeletes: Seq[EqDeleteFile],
      dvs: Seq[DvEntry] = Nil)

  private def longOr(r: GenericRecord, field: String, dflt: Long): Long =
    Option(r.getSchema.getField(field)).flatMap(_ => Option(r.get(field)))
      .map(_.asInstanceOf[Number].longValue).getOrElse(dflt)

  /** Manifest-level skipping telemetry of the LAST [[liveFiles]] call
    * (single-threaded test introspection only). */
  @volatile private[graft] var lastManifestScan: (Int, Int) = (0, 0) // (read, skipped)
  /** Data files the last [[readIceberg]] (kept, pruned-by-bounds) —
    * same single-threaded test-introspection contract as above. */
  @volatile private[graft] var lastDataFileScan: (Int, Int) = (0, 0)

  /** Can the manifest whose manifest-list entry carries `specId` +
    * `summaries` hold rows matching the field-id-keyed predicates?
    * Resolved through the metadata's partition specs: each
    * field_summary lines up positionally with the spec's fields, and
    * predicates map THROUGH the transform ([[IcebergTransforms]]) —
    * temporal and numeric-truncate ranges map monotonically, bucket
    * prunes point predicates via the spec's murmur3, string truncate
    * prunes equality by prefix. Missing spec / summary / bound or an
    * unmappable (transform, predicate) pair ⇒ true (no skipping
    * without evidence). */
  private def manifestMayMatch(meta: JsonNode, specId: Int,
      summaries: Seq[(Boolean, Array[Byte], Array[Byte])],
      idRanges: Map[Int, (DataType, Double, Double)],
      idEq: Map[Int, (DataType, Array[Byte])],
      idIn: Map[Int, (DataType, Seq[Array[Byte]])] = Map.empty): Boolean = {
    import scala.jdk.CollectionConverters._
    if (summaries.isEmpty ||
        (idRanges.isEmpty && idEq.isEmpty && idIn.isEmpty)) return true
    val specFields: Seq[(Int, String)] = meta.path("partition-specs")
      .elements().asScala.find(_.path("spec-id").asInt(-1) == specId)
      .map(_.path("fields").elements().asScala
        .map(fd => (fd.path("source-id").asInt, fd.path("transform").asText))
        .toSeq)
      .getOrElse(Seq.empty)
    specFields.zip(summaries).forall {
      case ((srcId, transform), (containsNull, lo, hi)) =>
        val rangeOk = idRanges.get(srcId).forall { case (dt, qlo, qhi) =>
          containsNull || lo == null || hi == null ||
            (IcebergTransforms.mapRange(transform, dt, qlo, qhi) match {
              case Some((plo, phi)) =>
                IcebergTransforms.resultType(transform, dt)
                  .flatMap(rdt => for {
                    mn <- boundToDouble(rdt, lo)
                    mx <- boundToDouble(rdt, hi)
                  } yield mx >= plo && mn <= phi)
                  .getOrElse(true)
              case None => true // no source-value evidence for this shape
            })
        }
        def admitsString(vb: Array[Byte]): Boolean =
          IcebergTransforms.mapStringEq(transform,
            new String(vb, "UTF-8")) match {
            case Some(Right(pb)) => // identity / truncated prefix
              java.util.Arrays.compareUnsigned(lo, pb) <= 0 &&
                java.util.Arrays.compareUnsigned(pb, hi) <= 0
            case Some(Left(bucket)) => // bucket ordinal vs int bounds
              (for {
                mn <- boundToDouble(IntegerType, lo)
                mx <- boundToDouble(IntegerType, hi)
              } yield mx >= bucket && mn <= bucket).getOrElse(true)
            case None => true
          }
        val eqOk = idEq.get(srcId).forall { case (dt, vb) =>
          containsNull || lo == null || hi == null || dt != StringType ||
            admitsString(vb)
        }
        // MULTI-POINT predicate (col IN values): the manifest survives
        // if ANY value admits — the streaming-dedup probe's shape, a
        // batch of band keys against a bucket[N]-partitioned state
        val inOk = idIn.get(srcId).forall { case (dt, vbs) =>
          containsNull || lo == null || hi == null || dt != StringType ||
            vbs.exists(admitsString)
        }
        rangeOk && eqOk && inOk
    }
  }

  private def liveFiles(spark: SparkSession, dir: String,
                        snapshot: JsonNode, meta: JsonNode = null,
                        idRanges: Map[Int, (DataType, Double, Double)] = Map.empty,
                        idEq: Map[Int, (DataType, Array[Byte])] = Map.empty,
                        idIn: Map[Int, (DataType, Seq[Array[Byte]])] = Map.empty): SnapshotFiles = {
    import scala.jdk.CollectionConverters._
    var skipped = 0
    val manifests: Seq[(String, Int, Long, Long)] =
      if (snapshot.has("manifest-list")) {
        avroRecords(spark, new Path(resolve(snapshot.path("manifest-list").asText)))
          .filter { m =>
            // MANIFEST-LEVEL skipping: a partitioned manifest whose
            // partition-field summary excludes the predicates drops
            // before its Avro is ever opened — at warehouse scale the
            // driver's metadata work becomes proportional to MATCHING
            // manifests, not the table. Delete manifests never skip
            // (a delete can hit any partition under spec evolution).
            val keep = meta == null || intOr(m, "content", 0) != 0 || {
              val sums = Option(m.getSchema.getField("partitions"))
                .flatMap(_ => Option(m.get("partitions"))).map {
                  _.asInstanceOf[java.util.List[_]].asScala.map { s0 =>
                    val r = s0.asInstanceOf[GenericRecord]
                    def bytesOf(f: String): Array[Byte] =
                      Option(r.get(f)).map { bb0 =>
                        val bb = bb0.asInstanceOf[java.nio.ByteBuffer].duplicate()
                        val b = new Array[Byte](bb.remaining()); bb.get(b); b
                      }.orNull
                    (Option(r.get("contains_null")).exists(_.asInstanceOf[Boolean]),
                      bytesOf("lower_bound"), bytesOf("upper_bound"))
                  }.toSeq
                }.getOrElse(Seq.empty)
              manifestMayMatch(meta, intOr(m, "partition_spec_id", 0),
                sums, idRanges, idEq, idIn)
            }
            if (!keep) skipped += 1
            keep
          }
          .map(m => (str(m, "manifest_path"), intOr(m, "content", 0),
            longOr(m, "sequence_number", 0L),
            longOr(m, "added_snapshot_id", -1L)))
      } else // v1: inline manifest path array (v1 has no deletes)
        snapshot.path("manifests").elements().asScala
          .map(p => (p.asText, 0, 0L, -1L)).toSeq
    lastManifestScan = (manifests.length, skipped)
    val data = Seq.newBuilder[DataFileEntry]
    val posDeletes = Seq.newBuilder[String]
    val eqDeletes = Seq.newBuilder[EqDeleteFile]
    val dvs = Seq.newBuilder[DvEntry]
    def boundsOf(df: GenericRecord, field: String): Map[Int, Array[Byte]] =
      Option(df.getSchema.getField(field)).flatMap(_ => Option(df.get(field))).map {
        _.asInstanceOf[java.util.List[_]].asScala.map { kv0 =>
          val kv = kv0.asInstanceOf[GenericRecord]
          val bb = kv.get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
          val b = new Array[Byte](bb.remaining()); bb.get(b)
          kv.get("key").asInstanceOf[Number].intValue -> b
        }.toMap
      }.getOrElse(Map.empty)
    // one Avro read per surviving manifest — independent I/O, overlap
    // on a bounded pool (order-preserving: the entry builders below
    // must see manifests in list order); a 120-tuple table otherwise
    // walks 120 files serially on the driver per read. Windowed fold:
    // at most one pool-width of record lists is resident at once — a
    // snapshot with thousands of large manifests must not hold them
    // all simultaneously.
    graft.pipeline.Par.foldWindowed(manifests) { case (mp, _, _, _) =>
      avroRecords(spark, new Path(resolve(mp)))
    } { case ((mp, _, mseq, mSnap), recs) =>
      recs.foreach { e =>
        val status = intOr(e, "status", 0)
        if (status != 2) { // 2 = DELETED entry: file dropped in this snapshot
          val seq = longOr(e, "sequence_number", mseq)
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val content = intOr(df, "content", 0)
          val fmt = str(df, "file_format")
          val path = resolve(str(df, "file_path"))
          // v3 deletion vectors: a content=1 entry whose blob lives in
          // a Puffin file, addressed directly by offset/size and tied
          // to one data file by referenced_data_file. Only the Puffin
          // format (or an explicit content_offset) marks a DV — v2
          // parquet position deletes may also carry the optional
          // referenced_data_file field and must stay on the
          // position-delete path.
          val refFile = Option(df.getSchema.getField("referenced_data_file"))
            .flatMap(_ => Option(df.get("referenced_data_file"))).map(_.toString)
          val hasDvAddress = Option(df.getSchema.getField("content_offset"))
            .flatMap(_ => Option(df.get("content_offset"))).isDefined
          if (content == 1 && (fmt.equalsIgnoreCase("puffin") || hasDvAddress)) {
            require(refFile.isDefined,
              s"Puffin delete entry $path lacks referenced_data_file")
            dvs += DvEntry(path, longOr(df, "content_offset", -1L),
              longOr(df, "content_size_in_bytes", -1L), resolve(refFile.get), seq)
          } else {
            require(fmt.equalsIgnoreCase("parquet"),
              s"Iceberg file format $fmt is not supported (parquet and v3 Puffin DVs only)")
          content match {
            case 0 => data += DataFileEntry(path, seq,
              boundsOf(df, "lower_bounds"), boundsOf(df, "upper_bounds"),
              Option(df.getSchema.getField("first_row_id"))
                .flatMap(_ => Option(df.get("first_row_id")))
                .map(_.asInstanceOf[Number].longValue),
              snapId = longOr(e, "snapshot_id", mSnap))
            case 1 => posDeletes += path
            case 2 =>
              val ids = Option(df.getSchema.getField("equality_ids"))
                .flatMap(_ => Option(df.get("equality_ids")))
                .map(_.asInstanceOf[java.util.List[_]].asScala
                  .map(_.asInstanceOf[Number].intValue).toSeq)
                .getOrElse(Seq.empty)
              require(ids.nonEmpty,
                s"equality delete file $path lacks equality_ids")
              eqDeletes += EqDeleteFile(path, seq, ids,
                boundsOf(df, "lower_bounds"), boundsOf(df, "upper_bounds"))
            case other => throw new IllegalArgumentException(
              s"unknown Iceberg file content=$other at $path")
          }
          }
        }
      }
    }
    SnapshotFiles(data.result(), posDeletes.result(), eqDeletes.result(),
      dvs.result())
  }

  /** Field-id → StructField (current name + type, id metadata
    * attached) for a schema node — the map `equality_ids` resolve
    * through. */
  private def fieldsById(schemaNode: JsonNode): Map[Int, StructField] =
    fieldsOf(schemaNode.path("fields")).flatMap { f =>
      if (f.metadata.contains(FieldIdKey))
        Some(f.metadata.getLong(FieldIdKey).toInt -> f)
      else None
    }.toMap

  /** `file:`-URI and plain-path spellings collapse to one canonical
    * absolute path, so the delete files' `file_path` strings compare
    * equal to the scan's `_metadata.file_path`. */
  private def canonPath(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(c, "^file:/+", "/")

  /** Decode a spec single-value bound (little-endian) to a double for
    * range-overlap checks. Unknown widths/types → None (no pruning). */
  private def boundToDouble(dt: DataType, b: Array[Byte]): Option[Double] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | DateType if b.length == 4 => Some(bb.getInt.toDouble)
      case LongType if b.length == 8 => Some(bb.getLong.toDouble)
      case FloatType if b.length == 4 => Some(bb.getFloat.toDouble)
      case DoubleType if b.length == 8 => Some(bb.getDouble)
      case TimestampType | TimestampNTZType if b.length == 8 =>
        Some(bb.getLong.toDouble) // spec encoding: epoch micros
      case _ => None
    }
  }

  /** Pruned read: file-level data skipping from the manifests' bound
    * maps — the Iceberg analogue of the Delta zonemap read. Files
    * whose recorded bounds exclude a range drop WITHOUT touching
    * storage; files lacking bounds survive (no skipping without
    * evidence); the residual row filter re-applies in-plan. At 100 TB
    * this makes a selective range read proportional to the matching
    * files, not the table. */
  def readIcebergWhere(spark: SparkSession, dir: String,
                       ranges: Map[String, (Double, Double)],
                       snapshotId: Option[Long] = None,
                       stringEq: Map[String, String] = Map.empty): DataFrame =
    readIceberg(spark, dir, snapshotId, ranges, stringEq)

  /** Read an Iceberg table's current — or `snapshotId`'s — rows.
    * `ranges` prunes files by numeric/date bounds; `stringEq` prunes by
    * STRING equality against the manifests' string bounds (unsigned
    * UTF-8 lexicographic order — the lang/category case). */
  def readIceberg(spark: SparkSession, dir: String,
                  snapshotId: Option[Long] = None,
                  ranges: Map[String, (Double, Double)] = Map.empty,
                  stringEq: Map[String, String] = Map.empty,
                  withLineage: Boolean = false,
                  // expose each LIVE row's (canonical file path, row
                  // ordinal) as `_graft_file`/`_graft_pos` — the
                  // coordinates a position-delete WRITE needs, emitted
                  // AFTER delete masking so already-deleted rows never
                  // re-delete
                  withProvenance: Boolean = false,
                  // restrict the scan to these data files (canonical
                  // paths) — compaction reads ONLY the dirty files'
                  // masked rows; delete application still sees every
                  // live delete file
                  onlyDataFiles: Option[Set[String]] = None,
                  // MULTI-POINT string predicate (col IN values):
                  // prunes manifests/files that can hold NONE of the
                  // values — through bucket/truncate transforms at the
                  // manifest level — then re-applies as an InSet
                  // residual. The streaming-dedup state probe's path.
                  stringIn: Map[String, Set[String]] = Map.empty): DataFrame = {
    import scala.jdk.CollectionConverters._
    // Field-id column resolution: Iceberg schema evolution renames /
    // reorders / drops COLUMN NAMES but never reuses field IDS, so
    // parquet columns must be matched by the ids both sides carry.
    // This flag only changes behavior for scans whose REQUESTED schema
    // carries parquet.field.id metadata — i.e. exactly the schemas
    // this reader pins — so setting it session-wide is safe.
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val fv = meta.path("format-version").asInt(1)
    require(fv <= 3,
      s"Iceberg format-version $fv is not supported (v1/v2/v3)")
    val snaps = meta.path("snapshots").elements().asScala.toSeq
    val wanted = snapshotId.getOrElse(meta.path("current-snapshot-id").asLong(-1L))
    val snap = snaps.find(_.path("snapshot-id").asLong(-2L) == wanted)
    // time travel reads the shape the table had THEN: the snapshot's
    // pinned schema-id (current reads always use the current schema,
    // even when a later metadata-only evolution followed the snapshot)
    val schemaNode = schemaNodeById(meta,
      snap.filter(_ => snapshotId.isDefined)
        .filter(_.has("schema-id")).map(_.path("schema-id").asInt))
    val schema = StructType(fieldsOf(schemaNode.path("fields")))
    snap match {
      case None if snaps.isEmpty && snapshotId.isEmpty =>
        // a created-but-never-written table: empty frame, real schema
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      case None =>
        throw new IllegalArgumentException(
          s"snapshot $wanted not found in ${snaps.length} snapshot(s) at $dir")
      case Some(s0) =>
        // file-level data skipping: drop files whose manifest bounds
        // exclude a requested range (by FIELD ID — names may have
        // evolved since the bounds were written)
        val idOf: Map[String, (Int, DataType)] =
          fieldsOf(schemaNode.path("fields")).flatMap { f =>
            if (f.metadata.contains(FieldIdKey))
              Some(f.name -> ((f.metadata.getLong(FieldIdKey).toInt, f.dataType)))
            else None
          }.toMap
        // ...and MANIFEST-level skipping first: the same predicates,
        // keyed by field id, prune whole manifests via the manifest
        // list's partition-field summaries before any manifest opens
        val idRanges = ranges.flatMap { case (name, (lo, hi)) =>
          idOf.get(name).map { case (id, dt) => id -> ((dt, lo, hi)) }
        }
        val idEq = stringEq.flatMap { case (name, v) =>
          idOf.get(name).map { case (id, dt) =>
            id -> ((dt, v.getBytes("UTF-8")))
          }
        }
        val idIn = stringIn.flatMap { case (name, vs) =>
          idOf.get(name).map { case (id, dt) =>
            id -> ((dt, vs.toSeq.map(_.getBytes("UTF-8"))))
          }
        }
        val sortedIn: Map[String, Array[Array[Byte]]] =
          stringIn.map { case (name, vs) =>
            name -> vs.toArray.map(_.getBytes("UTF-8")).sortWith(
              (a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
          }
        val invAll = liveFiles(spark, dir, s0, meta, idRanges, idEq, idIn)
        val inv0 = onlyDataFiles match {
          case None => invAll
          case Some(keep) =>
            invAll.copy(data = invAll.data.filter(e => keep(canonPathStr(e.path))))
        }
        val inv = if (ranges.isEmpty && stringEq.isEmpty && stringIn.isEmpty)
          inv0 else inv0.copy(
          data = inv0.data.filter { e =>
            def stringAdmits(id: Int, dt: DataType, vb: Array[Byte]): Boolean =
              (dt, e.lower.get(id), e.upper.get(id)) match {
                case (StringType, Some(lb), Some(ub)) =>
                  java.util.Arrays.compareUnsigned(lb, vb) <= 0 &&
                    java.util.Arrays.compareUnsigned(vb, ub) <= 0
                case _ => true // non-string / no bound: keep
              }
            ranges.forall { case (name, (lo, hi)) =>
              idOf.get(name).forall { case (id, dt) =>
                (e.lower.get(id).flatMap(boundToDouble(dt, _)),
                 e.upper.get(id).flatMap(boundToDouble(dt, _))) match {
                  case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
                  case _ => true // no bound, no skipping
                }
              }
            } &&
            stringEq.forall { case (name, v) =>
              idOf.get(name).forall { case (id, dt) =>
                stringAdmits(id, dt, v.getBytes("UTF-8"))
              }
            } &&
            stringIn.forall { case (name, vs) =>
              idOf.get(name).forall { case (id, dt) =>
                (dt, e.lower.get(id), e.upper.get(id)) match {
                  case (StringType, Some(lb), Some(ub)) =>
                    // any value within [lb, ub]? O(log n) via the
                    // presorted value list — a probe can carry
                    // thousands of band keys without making this
                    // driver loop O(files × values)
                    val sorted = sortedIn(name)
                    var loI = 0; var hiI = sorted.length
                    while (loI < hiI) {
                      val mid = (loI + hiI) >>> 1
                      if (java.util.Arrays.compareUnsigned(sorted(mid), lb) < 0)
                        loI = mid + 1
                      else hiI = mid
                    }
                    loI < sorted.length &&
                      java.util.Arrays.compareUnsigned(sorted(loI), ub) <= 0
                  case _ => true // non-string / no bound: keep
                }
              }
            }
          })
        lastDataFileScan = (inv.data.length, inv0.data.length - inv.data.length)
        def residual(df: DataFrame): DataFrame = {
          import org.apache.spark.sql.functions.{col, lit, timestamp_micros, date_add, to_date}
          // range endpoints arrive as doubles (epoch micros for
          // timestamps, epoch days for dates) — build literals of the
          // COLUMN's type, or an implicit ts→double cast would compare
          // SECONDS against micros and silently filter everything out
          def bound(k: String, v: Double): org.apache.spark.sql.Column =
            df.schema.find(_.name == k).map(_.dataType) match {
              case Some(TimestampType) => timestamp_micros(lit(v.toLong))
              case Some(TimestampNTZType) =>
                timestamp_micros(lit(v.toLong)).cast(TimestampNTZType)
              case Some(DateType) => date_add(to_date(lit("1970-01-01")), v.toInt)
              case _ => lit(v)
            }
          val ranged = ranges.foldLeft(df) { case (d, (k, (lo, hi))) =>
            d.filter(col(k) >= bound(k, lo) && col(k) <= bound(k, hi))
          }
          val eqd = stringEq.foldLeft(ranged) { case (d, (k, v)) =>
            d.filter(col(k) === lit(v))
          }
          stringIn.foldLeft(eqd) { case (d, (k, vs)) =>
            // large value sets become InSet (hash lookup, codegen'd)
            d.filter(col(k).isin(vs.toSeq: _*))
          }
        }
        val lineageFields = Seq(
          StructField("_row_id", LongType, nullable = true),
          StructField("_last_updated_sequence_number", LongType, nullable = true))
        if (inv.data.isEmpty)
          residual(spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            StructType(schema.fields ++
              (if (withLineage) lineageFields else Nil) ++
              (if (withProvenance) Seq(
                StructField("_graft_file", StringType),
                StructField("_graft_pos", LongType)) else Nil))))
        else {
          import org.apache.spark.sql.functions._
          // v3 ROW LINEAGE reads request the two reserved lineage
          // columns alongside the table schema: files that MATERIALIZED
          // them (a compaction's or MoR update's rewrites) surface the
          // stamped values, files that didn't surface null — the
          // inheritance fallback below derives those
          val readSchema =
            if (!withLineage) schema
            else StructType(schema.fields ++ Seq(
              StructField("_row_id", LongType, nullable = true,
                fieldIdMeta(RowIdFieldId)),
              StructField("_last_updated_sequence_number", LongType,
                nullable = true, fieldIdMeta(LastUpdatedSeqFieldId))))
          val base0 = spark.read.schema(readSchema).parquet(inv.data.map(_.path): _*)
          // v3 ROW LINEAGE: a row's stable id is its file's
          // first_row_id + its position — attached via one broadcast
          // join on the (file-count-bounded) path→(first_row_id, seq)
          // map, BEFORE delete masking so surviving rows keep their
          // ids. A MATERIALIZED `_row_id` (written when a rewrite
          // moved the row) wins over derivation; same for
          // `_last_updated_sequence_number` vs the file's own data
          // sequence number (the spec's inheritance rule).
          val base =
            if (!withLineage) base0
            else {
              val rowsJ = inv.data.map(e => org.apache.spark.sql.Row(
                canonPathStr(e.path),
                e.firstRowId.getOrElse(throw new IllegalArgumentException(
                  s"withLineage: data file ${e.path} lacks first_row_id " +
                  "(not a v3 row-lineage table)")),
                e.seq)).asJava
              val frDf = broadcast(spark.createDataFrame(rowsJ,
                StructType(Seq(StructField("_lin_path", StringType),
                  StructField("_lin_first", LongType),
                  StructField("_lin_seq", LongType)))))
              base0
                .withColumnRenamed("_row_id", "_lin_mat")
                .withColumnRenamed("_last_updated_sequence_number", "_lin_mseq")
                .withColumn("_lin_p", canonPath(col("_metadata.file_path")))
                .withColumn("_lin_pos", col("_metadata.row_index"))
                .join(frDf, col("_lin_p") === col("_lin_path"), "left")
                .withColumn("_row_id",
                  coalesce(col("_lin_mat"), col("_lin_first") + col("_lin_pos")))
                .withColumn("_last_updated_sequence_number",
                  coalesce(col("_lin_mseq"), col("_lin_seq")))
                .drop("_lin_p", "_lin_pos", "_lin_path", "_lin_first",
                  "_lin_seq", "_lin_mat", "_lin_mseq")
            }
          // v3 FIELD DEFAULTS: a field added with `initial-default`
          // reads the DEFAULT (not null) from files that predate it —
          // per-file, metadata-only ([[applyInitialDefaults]]).
          val baseD = applyInitialDefaults(spark, meta, base, schema,
            inv.data.map(e => canonPathStr(e.path) -> ((e.snapId, e.seq))).toMap,
            snap.map(_.path("manifest-list").asText))
          val outCols = (schema.fieldNames.toSeq ++
            (if (withLineage) lineageFields.map(_.name) else Nil)).map(col)
          if (inv.posDeletes.isEmpty && inv.eqDeletes.isEmpty && inv.dvs.isEmpty)
            residual(baseD.select(outCols ++ (if (!withProvenance) Nil
              else Seq(canonPath(col("_metadata.file_path")).as("_graft_file"),
                col("_metadata.row_index").as("_graft_pos"))): _*))
          else {
            // Row-level deletes as a PLAN, not a driver loop: the scan
            // exposes its own (file, row ordinal) through `_metadata`,
            // delete files are plain parquet reads, and anti-joins
            // remove exactly the deleted rows. At scale the delete
            // sides are tiny next to the data — Catalyst broadcasts
            // them from scan stats — and the data side stays one
            // pruned parquet scan.
            var cur = baseD
              .withColumn("_g_path", canonPath(col("_metadata.file_path")))
              .withColumn("_g_pos", col("_metadata.row_index"))
            if (inv.dvs.nonEmpty) {
              // v3 DELETION VECTORS: one live DV per data file (the
              // highest-sequence entry wins — replacement semantics).
              // The blobs are the SAME portable roaring bitmaps Delta
              // DVs use, so the mask applies with the SAME codegen
              // broadcast-bitmap FILTER — no join, positions never
              // become rows.
              val conf = spark.sparkContext.hadoopConfiguration
              val masks: Map[String, RoaringBitmapArray] =
                inv.dvs.groupBy(_.ref).map { case (rf, ds) =>
                  val d = ds.maxBy(_.seq)
                  canonPathStr(rf) -> IcebergFormat.readPuffinDv(
                    conf, new Path(d.puffin), d.offset, d.size)
                }
              import org.apache.spark.sql.GraftBridge.{column, expression}
              cur = cur.filter(!column(graft.functions.expressions.DvDeletedExpr(
                expression(col("_g_path")),
                expression(col("_metadata.row_index")), masks)))
            }
            if (inv.posDeletes.nonEmpty) {
              val del = spark.read.parquet(inv.posDeletes: _*)
                .select(canonPath(col("file_path")).as("_del_path"),
                  col("pos").cast("long").as("_del_pos"))
              cur = cur
                .join(del, col("_g_path") === col("_del_path") &&
                  col("_g_pos") === col("_del_pos"), "left_anti")
            }
            if (inv.eqDeletes.nonEmpty) {
              // EQUALITY deletes only hit rows whose DATA sequence
              // number is strictly below the delete's: attach each
              // row's sequence number via a broadcast join on the
              // (file-count-bounded) path→seq map, then one anti-join
              // per distinct equality-column set (null-safe equality —
              // the spec matches null to null)
              val idMap = fieldsById(schemaNode)
              val seqDf = broadcast(spark.createDataFrame(
                inv.data.map(d => (canonPathStr(d.path), d.seq))
                  .map(org.apache.spark.sql.Row.fromTuple(_)).asJava,
                StructType(Seq(StructField("_seq_path", StringType),
                  StructField("_data_seq", LongType)))))
              cur = cur.join(seqDf, col("_g_path") === col("_seq_path"), "left")
              inv.eqDeletes.groupBy(_.ids).foreach { case (ids, files) =>
                // the delete FILE's column names are whatever the
                // schema said when the delete was written; the ids are
                // forever — pin a field-id-carrying schema so the read
                // resolves by id and surfaces the CURRENT names
                val delFields = ids.map(id => idMap.getOrElse(id,
                  throw new IllegalArgumentException(
                    s"equality_ids references unknown field id $id"))
                  .copy(nullable = true))
                val cols = delFields.map(_.name)
                val del = files.map { d =>
                  spark.read.schema(StructType(delFields)).parquet(d.path)
                    .select(cols.map(c => col(c).as(s"_del_$c")): _*)
                    .withColumn("_del_seq", lit(d.seq))
                }.reduce(_ unionByName _)
                val cond = cols.map(c => col(c) <=> col(s"_del_$c"))
                  .reduce(_ && _) && col("_data_seq") < col("_del_seq")
                cur = cur.join(del, cond, "left_anti")
              }
            }
            residual(cur.select(outCols ++ (if (!withProvenance) Nil
              else Seq(col("_g_path").as("_graft_file"),
                col("_g_pos").as("_graft_pos"))): _*))
          }
        }
    }
  }

  /** [[canonPath]] for a driver-side string. */
  private[graft] def canonPathStr(p: String): String =
    p.replaceFirst("^file:/+", "/")

  /** The CURRENT snapshot's LIVE deletion vector per data file
    * (canonical ref → (puffin path, offset, size)) — the highest-
    * sequence entry per file, the spec's replacement rule. The DV
    * write path unions new positions into these (a replacement DV
    * must be a superset of the one it replaces). */
  private[graft] def liveDvs(spark: SparkSession, dir: String,
                             atSnapshot: Option[Long] = None)
      : Map[String, (String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val want = atSnapshot.getOrElse(meta.path("current-snapshot-id").asLong(-1L))
    meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == want)
      .map(s0 => liveFiles(spark, dir, s0).dvs
        .groupBy(e => canonPathStr(e.ref)).map { case (r, ds) =>
          val d = ds.maxBy(_.seq)
          r -> ((d.puffin, d.offset, d.size))
        })
      .getOrElse(Map.empty)
  }

  /** One snapshot's full live state for diffing: data files keyed by
    * canonical path with their (sequence number, lower bounds, upper
    * bounds); live DV per referenced file (max-sequence);
    * position-delete and equality-delete files. */
  private[io] final case class LiveState(
      dataInfo: Map[String, (Long, Map[Int, Array[Byte]], Map[Int, Array[Byte]])],
      dvs: Map[String, (String, Long, Long)],
      posDeletes: Seq[String],
      eqDeletes: Seq[EqDeleteFile]) {
    def files: Set[String] = dataInfo.keySet
  }

  /** ONE snapshot's full live-state inventory in ONE manifest walk —
    * what a rollback diff compares side by side without re-walking
    * the same manifests per view. Data-file sequence numbers and
    * column bounds ride along so the diff can bounds-prune which
    * common files an equality-delete change can possibly re-mask. */
  private[io] def liveStateOf(spark: SparkSession, dir: String,
      atSnapshot: Long): LiveState = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == atSnapshot)
      .map { s0 =>
        val inv = liveFiles(spark, dir, s0)
        LiveState(
          inv.data.map(e =>
            canonPathStr(e.path) -> ((e.seq, e.lower, e.upper))).toMap,
          inv.dvs.groupBy(e => canonPathStr(e.ref)).map { case (r, ds) =>
            val d = ds.maxBy(_.seq)
            r -> ((d.puffin, d.offset, d.size))
          },
          inv.posDeletes.map(canonPathStr),
          inv.eqDeletes.map(e => e.copy(path = canonPathStr(e.path))))
      }
      .getOrElse(LiveState(Map.empty, Map.empty, Nil, Nil))
  }

  /** The CURRENT snapshot's live data-file paths (canonical), for
    * commit-time validation ([[IcebergWrite]] rebases only when the
    * files its delete references are still live — Iceberg's
    * validateDataFilesExist). Metadata-sized driver work. */
  private[graft] def liveDataPaths(spark: SparkSession, dir: String,
                                   atSnapshot: Option[Long] = None): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val cur = atSnapshot.getOrElse(meta.path("current-snapshot-id").asLong(-1L))
    meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == cur)
      .map(s0 => liveFiles(spark, dir, s0).data.map(e => canonPathStr(e.path)))
      .getOrElse(Nil)
  }

  /** Conversion support ([[DeltaInterop.convertIcebergToDelta]]): the
    * CURRENT snapshot's live data-file paths, the table schema (field
    * ids attached), and whether row-level deletes exist. */
  private[io] def currentInventory(spark: SparkSession,
                                   dir: String): (Seq[String], StructType, Boolean) = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val fv = meta.path("format-version").asInt(1)
    require(fv <= 2,
      s"Iceberg format-version $fv is not supported (v1/v2 append-only only)")
    val schema = StructType(fieldsOf(schemaNodeById(meta, None).path("fields")))
    val cur = meta.path("current-snapshot-id").asLong(-1L)
    meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == cur) match {
      case None => (Nil, schema, false)
      case Some(s0) =>
        val inv = liveFiles(spark, dir, s0)
        (inv.data.map(_.path), schema,
          inv.posDeletes.nonEmpty || inv.eqDeletes.nonEmpty || inv.dvs.nonEmpty)
    }
  }

  /** Catalog property linking a registered name to its Iceberg
    * location. */
  val CatalogPathProperty = "graft.iceberg.path"

  /** The Iceberg location a catalog `[db.]table` name resolves to, if
    * registered via [[registerCatalogTable]]. */
  def catalogIcebergPath(spark: SparkSession, name: String): Option[String] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val catalog = org.apache.spark.sql.GraftBridge.sessionCatalog(spark)
    val parts = name.split('.').map(_.trim.replace("`", "")).filter(_.nonEmpty).toSeq
    val ident = parts match {
      case Seq(t) => Some(TableIdentifier(t))
      case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
      case _ => None
    }
    ident.filter(catalog.tableExists).flatMap { i =>
      val md = catalog.getTableMetadata(i)
      md.properties.get(CatalogPathProperty).orElse {
        // a FOREIGN iceberg-provider entry with a location resolves too
        if (md.provider.exists(_.equalsIgnoreCase("iceberg")) &&
            md.storage.locationUri.isDefined)
          Some(new Path(md.storage.locationUri.get).toString)
        else None
      }
    }
  }

  /** Register `name` → the Iceberg table at `dir` as a catalog VIEW
    * over the `graft_iceberg` TVF — the same registration shape
    * graft-Delta names use ([[DeltaInterop.registerCatalogTable]]).
    * Reads-by-name re-resolve the view text per query, so every query
    * sees the CURRENT snapshot. (Direct catalog entry: Spark's
    * CreateViewCommand refuses persistent views over injected
    * functions, but the stored text resolves fine at read time.) */
  def registerCatalogTable(spark: SparkSession, name: String, dir: String): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    val catalog = org.apache.spark.sql.GraftBridge.sessionCatalog(spark)
    val parts = name.split('.').map(_.trim.replace("`", "")).filter(_.nonEmpty).toSeq
    val ident = parts match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case _ => throw new IllegalArgumentException(s"bad table name: $name")
    }
    val p = new Path(dir)
    val abs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    val schema = StructType(
      StructType(fieldsOf(schemaNodeById(
        readJson(spark, currentMetadataPath(spark, dir)), None).path("fields")))
        .fields.map(_.copy(metadata =
          org.apache.spark.sql.types.Metadata.empty)))
    val entry = CatalogTable(
      identifier = ident,
      tableType = CatalogTableType.VIEW,
      storage = CatalogStorageFormat.empty,
      schema = schema,
      viewText = Some(s"SELECT * FROM graft_iceberg('${abs.replace("'", "''")}')"),
      properties = Map(CatalogPathProperty -> abs))
    if (catalog.tableExists(ident))
      catalog.dropTable(ident, ignoreIfNotExists = true, purge = false)
    catalog.createTable(entry, ignoreIfExists = false)
  }

  /** DESCRIBE-DETAIL header facts: ((format-version, current snapshot
    * id, "k=v,..." properties), snapshot count). One metadata read. */
  private[graft] def describeHead(spark: SparkSession,
      dir: String): ((Long, Long, String), Long, (Long, Boolean)) = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val props = meta.path("properties").properties().asScala.toSeq
      .map(e => s"${e.getKey}=${e.getValue.asText}").sorted.mkString(",")
    val curId = meta.path("current-snapshot-id").asLong(-1L)
    // observability extras: the row-lineage watermark (-1 = lineage
    // off) and whether FRESH column statistics serve this snapshot
    val statsFresh = meta.path("statistics").elements().asScala
      .exists(_.path("snapshot-id").asLong(-2L) == curId)
    ((meta.path("format-version").asInt(1).toLong, curId, props),
      meta.path("snapshots").size().toLong,
      (Option(meta.get("next-row-id")).map(_.asLong).getOrElse(-1L), statsFresh))
  }

  /** Iceberg METADATA TABLE `files` — one row per live file of the
    * current snapshot (content 0=data/1=position deletes/2=equality
    * deletes), straight from the manifests: NO data is scanned. The
    * ops surface behind `SELECT * FROM t.files`. */
  def filesTable(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    currentManifests(spark, dir).flatMap { case (mp, _, _) =>
      avroRecords(spark, new Path(resolve(mp))).flatMap { e =>
        if (intOr(e, "status", 0) == 2) None
        else {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          Some((resolve(str(df, "file_path")), intOr(df, "content", 0),
            longOr(df, "record_count", 0L),
            longOr(df, "file_size_in_bytes", 0L)))
        }
      }
    }.toDF("file_path", "content", "record_count", "file_size_in_bytes")
  }

  /** The manifest-list path of one snapshot (current metadata). */
  private[graft] def manifestListOf(spark: SparkSession, dir: String,
                                    snapshotId: Long): String = {
    import scala.jdk.CollectionConverters._
    readJson(spark, currentMetadataPath(spark, dir))
      .path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == snapshotId)
      .map(_.path("manifest-list").asText)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapshotId not found at $dir"))
  }

  /** Registered Puffin STATISTICS of the CURRENT snapshot (the table
    * metadata's `statistics` entry, iceberg.apache.org/spec/ "Table
    * statistics"): column name → ndv, resolved via blob field ids
    * against the current schema. EMPTY when never analyzed or when
    * the registered entry is STALE (statistics bind to the snapshot
    * they were computed on; a later commit invalidates them) —
    * exactly the freshness rule engines apply before trusting ndv. */
  def tableStatistics(spark: SparkSession, dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val curId = meta.path("current-snapshot-id").asLong(-1L)
    val nameOf: Map[Int, String] = fieldsById(schemaNodeById(meta, None))
      .map { case (id, f) => id -> f.name }
    meta.path("statistics").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == curId).toSeq
      .flatMap(_.path("blob-metadata").elements().asScala)
      .flatMap { b =>
        val ndv = b.path("properties").path("ndv")
        val fid = b.path("fields").elements().asScala.toSeq.headOption
        if (ndv.isMissingNode || fid.isEmpty) None
        else nameOf.get(fid.get.asInt).map(_ -> ndv.asLong)
      }.toMap
  }

  /** TVF shape (`graft_iceberg_refs(path)`): the table's named
    * references — Iceberg's `$refs` metadata table: (name, type,
    * snapshot_id, staged_commits) where staged_commits counts an
    * un-published branch's commits ahead of main (0 for tags and
    * published branches) — the write-audit-publish audit view. */
  def refsTable(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val staged = branchOnlyIds(meta)
    val parentOf: Map[Long, Long] =
      meta.path("snapshots").elements().asScala.map(s0 =>
        s0.path("snapshot-id").asLong(-1L) ->
          s0.path("parent-snapshot-id").asLong(-1L)).toMap
    meta.path("refs").properties().asScala.map { e =>
      val id = e.getValue.path("snapshot-id").asLong(-1L)
      val tpe = e.getValue.path("type").asText("branch")
      var n = 0; var cur = id
      // tags are immutable pointers, never staging lanes — 0 even
      // when one pins a snapshot inside a staged branch
      while (tpe == "branch" && cur > 0 && staged.contains(cur)) {
        n += 1; cur = parentOf.getOrElse(cur, -1L)
      }
      (e.getKey, tpe, id, n.toLong)
    }.toSeq.sortBy(_._1)
      .toDF("name", "type", "snapshot_id", "staged_commits")
  }

  /** TVF shape (`graft_iceberg_stats(path)`): one row per analyzed
    * column of the current snapshot — (column, ndv, row_count,
    * snapshot_id), straight from the statistics file's blob metadata.
    * Metadata-only, zero data scanned. */
  def statsTable(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val curId = meta.path("current-snapshot-id").asLong(-1L)
    val nameOf: Map[Int, String] = fieldsById(schemaNodeById(meta, None))
      .map { case (id, f) => id -> f.name }
    meta.path("statistics").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == curId).toSeq
      .flatMap(_.path("blob-metadata").elements().asScala)
      .flatMap { b =>
        val props = b.path("properties")
        val fid = b.path("fields").elements().asScala.toSeq.headOption
        fid.flatMap(i => nameOf.get(i.asInt)).map { name =>
          (name, props.path("ndv").asLong(-1L),
            props.path("row-count").asLong(-1L),
            b.path("snapshot-id").asLong(-1L))
        }
      }.toSeq.sortBy(_._1)
      .toDF("column", "ndv", "row_count", "snapshot_id")
  }

  /** The registered PARTITION-STATISTICS file of the CURRENT snapshot
    * (the metadata `partition-statistics` entry,
    * iceberg.apache.org/spec/ "Partition statistics") read back as
    * rows — None when never analyzed or when the entry binds to an
    * older snapshot (the same freshness rule as [[tableStatistics]]).
    * One metadata lookup + one tiny parquet read, zero data scanned. */
  def partitionStatsTable(spark: SparkSession, dir: String): Option[DataFrame] = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val curId = meta.path("current-snapshot-id").asLong(-1L)
    meta.path("partition-statistics").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == curId)
      .map(e => spark.read.parquet(resolve(e.path("statistics-path").asText)))
  }

  /** Iceberg METADATA TABLE `partitions` — per partition VALUE of the
    * current snapshot: live row count and manifest count, derived
    * ENTIRELY from manifest metadata (per-value manifests carry exact
    * lo==hi field summaries), zero data scanned. Unpartitioned
    * manifests aggregate under partition NULL; a contains_null
    * summary renders as "null". At 100 TB this answers "how big is
    * each partition" at metadata cost. */
  def partitionsTable(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val typeOfField: Map[Int, DataType] =
      fieldsById(schemaNodeById(meta, None)).map { case (id, f) => id -> f.dataType }
    def specField(specId: Int): Option[(Int, String)] =
      meta.path("partition-specs").elements().asScala
        .find(_.path("spec-id").asInt(-1) == specId)
        .map(_.path("fields"))
        .filter(_.size == 1)
        .map(fs0 => (fs0.get(0).path("source-id").asInt,
          fs0.get(0).path("transform").asText))
    val rows = currentManifests(spark, dir).flatMap { case (mp, specId, parts) =>
      val value: Option[String] = parts.flatMap { case (containsNull, lo, hi) =>
        if (containsNull || lo == null || hi == null ||
            !java.util.Arrays.equals(lo, hi)) Some("null").filter(_ => containsNull)
        else specField(specId).flatMap { case (srcId, transform) =>
          typeOfField.get(srcId)
            .flatMap(IcebergTransforms.resultType(transform, _))
            .map {
              case StringType => new String(lo, "UTF-8")
              case IntegerType | DateType =>
                java.nio.ByteBuffer.wrap(lo)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toString
              case LongType | TimestampType | TimestampNTZType =>
                java.nio.ByteBuffer.wrap(lo)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong.toString
              case _ => "?"
            }
        }
      }
      val live = avroRecords(spark, new Path(resolve(mp)))
        .filter(e => intOr(e, "status", 0) != 2)
        .map(_.get("data_file").asInstanceOf[GenericRecord])
        .filter(df => intOr(df, "content", 0) == 0)
      if (live.isEmpty) None
      else Some((value.orNull, live.map(longOr(_, "record_count", 0L)).sum, 1L))
    }
    rows.groupBy(_._1).map { case (v, ms) =>
      (v, ms.map(_._2).sum, ms.map(_._3).sum)
    }.toSeq.toDF("partition", "record_count", "manifest_count")
  }

  /** The current snapshot's manifest-list entries as
    * (manifest path, spec id, optional single-field summary) —
    * shared by the metadata tables. */
  private def currentManifests(spark: SparkSession, dir: String)
      : Seq[(String, Int, Option[(Boolean, Array[Byte], Array[Byte])])] = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val cur = meta.path("current-snapshot-id").asLong(-1L)
    meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == cur).toSeq
      .flatMap { s0 =>
        avroRecords(spark, new Path(resolve(s0.path("manifest-list").asText)))
          .map { m =>
            val summary = Option(m.getSchema.getField("partitions"))
              .flatMap(_ => Option(m.get("partitions")))
              .map(_.asInstanceOf[java.util.List[_]].asScala)
              .filter(_.size == 1)
              .map { l =>
                val r = l.head.asInstanceOf[GenericRecord]
                def bytesOf(f: String): Array[Byte] =
                  Option(r.get(f)).map { bb0 =>
                    val bb = bb0.asInstanceOf[java.nio.ByteBuffer].duplicate()
                    val b = new Array[Byte](bb.remaining()); bb.get(b); b
                  }.orNull
                (Option(r.get("contains_null")).exists(_.asInstanceOf[Boolean]),
                  bytesOf("lower_bound"), bytesOf("upper_bound"))
              }
            (str(m, "manifest_path"), intOr(m, "partition_spec_id", 0), summary)
          }
      }
  }

  /** The snapshot a named REF (tag or branch) points to — read it with
    * `readIceberg(spark, dir, Some(snapshotOfRef(...)))`. Metadata-only. */
  def snapshotOfRef(spark: SparkSession, dir: String, name: String): Long = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val r = meta.path("refs").path(name)
    require(r.isObject,
      s"no ref $name at $dir (refs: ${meta.path("refs").properties().asScala
        .map(_.getKey).mkString(",")})")
    r.path("snapshot-id").asLong(-1L)
  }

  /** The latest snapshot committed at or before `tsMillis` —
    * Iceberg's timestamp travel (spec: each snapshot records its
    * commit wall clock as `timestamp-ms`). Metadata-only: one JSON
    * read, no manifest work. */
  def snapshotAtTimestamp(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val snaps = meta.path("snapshots").elements().asScala.toSeq
      .map(s0 => (s0.path("snapshot-id").asLong, s0.path("timestamp-ms").asLong(0L)))
    val at = snaps.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no Iceberg snapshot at or before ts=$tsMillis at $dir " +
        s"(earliest is ${snaps.map(_._2).minOption})")
    at.maxBy(_._2)._1
  }

  /** The table's snapshot log (id, sequence number, timestamp,
    * operation) — the DESCRIBE HISTORY analogue. */
  def snapshots(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    meta.path("snapshots").elements().asScala.toSeq.map { s0 =>
      val sum = s0.path("summary")
      def n(k: String): Long = sum.path(k).asText("-1").toLong
      (s0.path("snapshot-id").asLong, s0.path("sequence-number").asLong(0L),
        s0.path("timestamp-ms").asLong(0L),
        sum.path("operation").asText(""),
        // standard summary counts (-1 = absent: a foreign writer that
        // records no summary numbers)
        n("added-data-files"), n("added-records"),
        n("total-data-files"), n("total-delete-files"), n("total-records"))
    }.toDF("snapshot_id", "sequence_number", "timestamp_ms", "operation",
      "added_data_files", "added_records",
      "total_data_files", "total_delete_files", "total_records")
  }

  // ──────────── streaming-source support (graft-iceberg) ────────────

  /** One head read for the streaming tailer: snapshots ordered by
    * sequence-number as (seq, snapshotId, operation), plus the CURRENT
    * schema pinned with field ids. */
  private[graft] def streamHead(spark: SparkSession, dir: String,
      branch: Option[String] = None)
      : (Seq[(Long, Long, String, Long)], StructType) = {
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val all = meta.path("snapshots").elements().asScala.toSeq
      .map(s0 => (s0.path("sequence-number").asLong(0L),
        s0.path("snapshot-id").asLong,
        s0.path("summary").path("operation").asText(""),
        s0.path("parent-snapshot-id").asLong(-1L)))
    val snaps = branch match {
      // BRANCH-SCOPED enumeration (an audit pipeline tailing its own
      // staged commits): exactly the branch head's ancestry — staged
      // snapshots visible inside, main's post-fork commits excluded
      case Some(b) =>
        val r = meta.path("refs").path(b)
        require(!r.isMissingNode && !r.isNull, s"no ref $b at $dir")
        require(r.path("type").asText("branch") == "branch",
          s"ref $b is a ${r.path("type").asText} — only branches stream")
        val anc = ancestryOf(meta, r.path("snapshot-id").asLong(-1L))
        all.filter(t => anc.contains(t._2)).sortBy(_._1)
      case None =>
        // a write-audit-publish branch's staged snapshots live in the
        // same snapshots array but are NOT main history — a main-table
        // consumer must never see un-published rows; they enter the
        // stream via fastForward's head move
        val excluded = branchOnlyIds(meta)
        all.filterNot(t => excluded.contains(t._2)).sortBy(_._1)
    }
    val schema = StructType(fieldsOf(schemaNodeById(meta, None).path("fields")))
    (snaps, schema)
  }

  /** All snapshot ids on `headId`'s parent chain (inclusive). */
  private[graft] def ancestryOf(meta: JsonNode, headId: Long): Set[Long] = {
    import scala.jdk.CollectionConverters._
    val parentOf: Map[Long, Long] =
      meta.path("snapshots").elements().asScala.map(s0 =>
        s0.path("snapshot-id").asLong(-1L) ->
          s0.path("parent-snapshot-id").asLong(-1L)).toMap
    val out = scala.collection.mutable.HashSet.empty[Long]
    var cur = headId
    while (cur > 0 && !out.contains(cur)) {
      out += cur; cur = parentOf.getOrElse(cur, -1L)
    }
    out.toSet
  }

  /** Snapshot ids POSITIVELY attributable to a non-main branch: for
    * each non-main branch ref, the chain from its head down to the
    * first main-ancestry node — and only when the walk actually
    * REACHES main's chain (proving a true fork). Histories without
    * recorded parent ids (foreign v1, UniForm mirrors) attribute
    * nothing and keep their full enumeration — excluding main history
    * would silently lose data, excluding nothing merely re-admits
    * staged rows a foreign writer parked (graft's own branches always
    * carry parents). */
  private[graft] def branchOnlyIds(meta: JsonNode): Set[Long] = {
    import scala.jdk.CollectionConverters._
    val refs = meta.path("refs")
    if (!refs.isObject || refs.size <= 1) return Set.empty
    val parentOf: Map[Long, Long] =
      meta.path("snapshots").elements().asScala.map(s0 =>
        s0.path("snapshot-id").asLong(-1L) ->
          s0.path("parent-snapshot-id").asLong(-1L)).toMap
    val onMain = scala.collection.mutable.HashSet.empty[Long]
    var cur = meta.path("current-snapshot-id").asLong(-1L)
    while (cur > 0 && !onMain.contains(cur)) {
      onMain += cur; cur = parentOf.getOrElse(cur, -1L)
    }
    val out = scala.collection.mutable.HashSet.empty[Long]
    refs.properties().asScala
      .filter(e => e.getKey != "main" &&
        e.getValue.path("type").asText("branch") == "branch")
      .foreach { e =>
        val chain = Seq.newBuilder[Long]
        var c = e.getValue.path("snapshot-id").asLong(-1L)
        var hitMain = false
        while (c > 0 && !hitMain) {
          if (onMain.contains(c)) hitMain = true
          else { chain += c; c = parentOf.getOrElse(c, -1L) }
        }
        if (hitMain) out ++= chain.result()
      }
    out.toSet
  }

  /** The data files snapshot `snapshotId` scans, for the stream-start
    * snapshot phase. REFUSES tables carrying row-level deletes
    * (streaming replays raw files, so masked rows would resurrect —
    * the same refusal Iceberg's own Spark streaming source makes).
    * Path-sorted: deterministic offsets across replays. */
  private[graft] def streamSnapshotFiles(spark: SparkSession, dir: String,
                                         snapshotId: Long): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val snap = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == snapshotId)
      .getOrElse(throw new IllegalStateException(
        s"snapshot $snapshotId not found at $dir — expired before the stream consumed it?"))
    val inv = liveFiles(spark, dir, snap, meta)
    require(inv.posDeletes.isEmpty && inv.eqDeletes.isEmpty && inv.dvs.isEmpty,
      s"streaming from $dir: the snapshot carries row-level deletes " +
      "(position/equality/DV) — compact the table first; raw-file replay would resurrect masked rows")
    inv.data.map(_.path).sorted
  }

  /** (canonical data-file path → ADDING snapshot id) of `snapshotId`'s
    * live set — the per-file attribution a streaming source needs to
    * apply v3 initial-defaults to its origin backfill. */
  private[graft] def streamSnapshotFileSnaps(spark: SparkSession, dir: String,
      snapshotId: Long): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val snap = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == snapshotId)
      .getOrElse(throw new IllegalStateException(
        s"snapshot $snapshotId not found at $dir"))
    liveFiles(spark, dir, snap, meta).data
      .map(e => canonPathStr(e.path) -> ((e.snapId, e.seq))).toMap
  }

  /** The data files ADDED by snapshot `snapshotId` (the tail unit):
    * entries of the snapshot's own manifests (added_snapshot_id ==
    * snapshotId) — carried-forward manifests never re-read, so a
    * 100 TB table tails at the cost of its CHANGES. Refuses delete
    * manifests added by the snapshot. Path-sorted. */
  private[graft] def streamAddedFiles(spark: SparkSession, dir: String,
                                      snapshotId: Long,
                                      ignoreDeletes: Boolean = false): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val meta = readJson(spark, currentMetadataPath(spark, dir))
    val snap = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2L) == snapshotId)
      .getOrElse(throw new IllegalStateException(
        s"snapshot $snapshotId not found at $dir — expired before the stream consumed it?"))
    val out = Seq.newBuilder[String]
    avroRecords(spark, new Path(resolve(snap.path("manifest-list").asText)))
      .filter(m => longOr(m, "added_snapshot_id", -1L) == snapshotId)
      .foreach { m =>
        val isDelete = intOr(m, "content", 0) != 0
        val entries =
          avroRecords(spark, new Path(resolve(m.get("manifest_path").toString)))
        if (isDelete) {
          // a DELETE manifest with NEWLY ADDED entries: raw-file replay
          // cannot honor its masks. With ignoreDeletes it is SKIPPED
          // (rows already emitted stay downstream — the documented
          // Delta-parity tradeoff); without it the stream fails loudly.
          // A delete manifest of only EXISTING entries (a manifest
          // MERGE re-binning old deletes) adds nothing — never refuse.
          require(ignoreDeletes || !entries.exists(e => intOr(e, "status", 0) == 1),
            s"snapshot $snapshotId of $dir added a DELETE manifest — " +
            "row-level deletes cannot stream (raw-file replay); set " +
            "ignoreDeletes to skip them (already-emitted rows stay)")
        } else entries.foreach { e =>
          val status = intOr(e, "status", 0)
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          // a rewritten manifest may carry EXISTING (status 0)
          // entries; only ADDED entries are new data for the tailer
          if (status == 1 && intOr(df, "content", 0) == 0)
            out += resolve(str(df, "file_path"))
        }
      }
    out.result().sorted
  }

  /** Write `df` as a native Iceberg table at `dir` and register it
    * under `name` — the saveAsTable of the graft-Iceberg plane
    * ([[DeltaInterop.saveAsDeltaTable]]'s twin). */
  def saveAsIcebergTable(df: org.apache.spark.sql.DataFrame, name: String,
                         dir: String): Long = {
    val snap = IcebergWrite.append(df, dir)
    registerCatalogTable(df.sparkSession, name, dir)
    snap
  }

}
