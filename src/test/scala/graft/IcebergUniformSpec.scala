package graft

import java.nio.file.Files
import graft.io.{DeltaInterop, IcebergInterop, IcebergUniform}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** UniForm (delta.io PROTOCOL.md "Iceberg Compatibility" /
  * `delta.universalFormat.enabledFormats=iceberg`): a uniform-enabled
  * Delta table maintains Iceberg metadata on every commit, so the SAME
  * data files read through two independent paths — the Delta log
  * ([[DeltaInterop.readDelta]]) and the Iceberg snapshot chain
  * ([[IcebergInterop.readIceberg]], this repo's spec-derived foreign
  * reader). Every test cross-checks the two. */
class IcebergUniformSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def dir0(): String = Files.createTempDirectory("graft-uni").toString

  private def both(dir: String): (Seq[(Long, String)], Seq[(Long, String)]) = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    (rows(DeltaInterop.readDelta(spark, dir)),
     rows(IcebergInterop.readIceberg(spark, dir)))
  }

  test("enable on an existing table rewrites files; appends sync incrementally") {
    val dir = dir0()
    DeltaInterop.writeDelta(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir, Nil)
    DeltaInterop.enableUniform(spark, dir)
    val st = DeltaInterop.state(spark, dir)
    assert(IcebergUniform.enabled(st))
    assert(st.protocol.writerFeatures.contains("icebergCompatV2"))
    assert(st.configuration.get("delta.columnMapping.mode").contains("name"))
    val (d1, i1) = both(dir)
    assert(d1 == Seq((1L, "a"), (2L, "b")) && i1 == d1)

    // two appends: each syncs as ONE MORE manifest (incremental — the
    // first append's manifest is carried forward by reference, not
    // rewritten)
    DeltaInterop.writeDelta(Seq((3L, "c")).toDF("id", "tag"), dir, Nil)
    DeltaInterop.writeDelta(Seq((4L, "d")).toDF("id", "tag"), dir, Nil)
    val (d2, i2) = both(dir)
    assert(d2 == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")) && i2 == d2)
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val manifests = f.listStatus(new org.apache.hadoop.fs.Path(dir, "metadata"))
      .map(_.getPath.getName).filter(n => n.startsWith("uniform-m") && n.endsWith(".avro"))
    assert(manifests.length == 3) // enable-rewrite + one per append
    // snapshot summaries carry the Delta version they mirror
    val snaps = IcebergInterop.snapshots(spark, dir).orderBy("snapshot_id").collect()
    assert(snaps.length == 3)
    assert(snaps.last.getString(3) == "append")
  }

  test("copy-on-write delete rewrites the snapshot; Iceberg time travel sees history") {
    val dir = dir0()
    DeltaInterop.writeDelta((1L to 10L).map(i => (i, s"t$i")).toDF("id", "tag"), dir, Nil)
    DeltaInterop.enableUniform(spark, dir)
    DeltaInterop.deleteWhere(spark, dir, col("id") >= 6L)
    val (d, i) = both(dir)
    assert(d == (1L to 5L).map(i0 => (i0, s"t$i0")) && i == d)
    // the pre-delete snapshot still reads all 10 (Iceberg time travel)
    val snaps = IcebergInterop.snapshots(spark, dir).orderBy("snapshot_id").collect()
    assert(snaps.length == 2)
    val before = IcebergInterop.readIceberg(spark, dir,
      snapshotId = Some(snaps.head.getLong(0)))
    assert(before.count() == 10)
    assert(snaps.last.getString(3) == "overwrite")
  }

  test("rename and add column evolve the Iceberg schema by field id") {
    val dir = dir0()
    DeltaInterop.writeDelta(Seq((1L, "a")).toDF("id", "tag"), dir, Nil)
    DeltaInterop.enableUniform(spark, dir)
    DeltaInterop.renameColumn(spark, dir, "tag", "label")
    // old file reads under the NEW name through the field id
    val r1 = IcebergInterop.readIceberg(spark, dir)
    assert(r1.columns.toSeq == Seq("id", "label"))
    assert(r1.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    DeltaInterop.addColumn(spark, dir, "score", org.apache.spark.sql.types.LongType)
    val r2 = IcebergInterop.readIceberg(spark, dir)
    assert(r2.columns.toSeq == Seq("id", "label", "score"))
    assert(r2.collect().map(r => (r.getLong(0), r.isNullAt(2))).toSeq == Seq((1L, true)))
    // a post-evolution append lands values in all three columns
    DeltaInterop.writeDelta(Seq((2L, "b", 9L)).toDF("id", "label", "score"), dir, Nil)
    val r3 = IcebergInterop.readIceberg(spark, dir).orderBy("id").collect()
    assert(r3.map(_.getLong(0)).toSeq == Seq(1L, 2L) && r3(1).getLong(2) == 9L)
  }

  test("numeric bounds from Delta stats prune Iceberg file reads") {
    val dir = dir0()
    DeltaInterop.writeDelta((1L to 100L).map(i => (i, s"t$i")).toDF("id", "tag"), dir, Nil)
    DeltaInterop.enableUniform(spark, dir)
    DeltaInterop.writeDelta((101L to 200L).map(i => (i, s"t$i")).toDF("id", "tag"), dir, Nil)
    // files hold contiguous id slices: an 11-value range read must
    // open only the few files whose stats-translated bounds overlap,
    // not the whole table
    val total = DeltaInterop.state(spark, dir).files.length
    val pruned = IcebergInterop.readIcebergWhere(spark, dir,
      ranges = Map("id" -> ((150.0, 160.0))))
    assert(pruned.count() == 11)
    val scanned = pruned.select(col("_metadata.file_path")).distinct().count()
    assert(scanned <= 5 && scanned < total,
      s"expected a handful of pruned files, got $scanned of $total")

    // decimal, date and timestamp columns: their Delta stats (exact
    // decimals, ISO strings) are not bounds the mirror translates, so
    // the Iceberg manifest carries none for them — only the long
    // column's bounds, byte for byte each file's own min/max
    val tdir = dir0()
    DeltaInterop.writeDelta((1L to 60L).map(i => (i, BigDecimal(i) / 4, i * 86400000000L + 123L))
      .toDF("id", "amt", "micros")
      .withColumn("amt", col("amt").cast("decimal(10,2)"))
      .withColumn("d", to_date(timestamp_micros(col("micros"))))
      .withColumn("ts", timestamp_micros(col("micros"))).drop("micros")
      .repartitionByRange(3, col("id")), tdir, Nil)
    DeltaInterop.enableUniform(spark, tdir)
    val idField = DeltaInterop.state(spark, tdir).schema("id").metadata
    val (idId, idPhys) = (idField.getLong("delta.columnMapping.id").toInt,
      idField.getString("delta.columnMapping.physicalName"))
    def le8(x: Long) = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(x).array().toSeq
    val mirrored = manifestBounds(tdir)
    assert(mirrored.size == DeltaInterop.state(spark, tdir).files.length)
    mirrored.foreach { case (file, (lower, upper)) =>
      val r = spark.read.parquet(file).agg(min(idPhys), max(idPhys)).head
      assert(lower == Map(idId -> le8(r.getLong(0))) &&
        upper == Map(idId -> le8(r.getLong(1))), file)
    }
  }

  /** Each live data file of the current Iceberg snapshot with its
    * (lower, upper) bounds by field id, read from the manifests. */
  private def manifestBounds(dir: String): Map[String, (Map[Int, Seq[Byte]], Map[Int, Seq[Byte]])] = {
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import scala.jdk.CollectionConverters._
    def local(uri: String) = if (uri.startsWith("file:")) new java.net.URI(uri).getPath else uri
    def records(uri: String): List[GenericRecord] = {
      val r = org.apache.avro.file.DataFileReader.openReader(
        new java.io.File(local(uri)), new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    def bounds(df: GenericRecord, f: String): Map[Int, Seq[Byte]] =
      Option(df.get(f)).toSeq.flatMap(_.asInstanceOf[java.util.List[GenericRecord]].asScala)
        .map { kv =>
          val bb = kv.get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
          val b = new Array[Byte](bb.remaining()); bb.get(b)
          kv.get("key").asInstanceOf[Number].intValue -> b.toSeq
        }.toMap
    val meta = IcebergInterop.readJson(spark, IcebergInterop.currentMetadataPath(spark, dir))
    val snap = meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong == meta.path("current-snapshot-id").asLong).get
    records(snap.path("manifest-list").asText)
      .flatMap(m => records(m.get("manifest_path").toString))
      .filter(_.get("status").asInstanceOf[Number].intValue != 2)
      .map(_.get("data_file").asInstanceOf[GenericRecord])
      .map(df => local(df.get("file_path").toString) ->
        ((bounds(df, "lower_bounds"), bounds(df, "upper_bounds"))))
      .toMap
  }

  test("PARTITIONED uniform: partition values materialize into files; both planes agree") {
    val dir = dir0()
    DeltaInterop.writeDelta(
      Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")).toDF("id", "tag", "p"),
      dir, Seq("p"))
    DeltaInterop.enableUniform(spark, dir)
    // the rewrite materialized p INTO the data files: the Iceberg read
    // (which has no directory reconstruction for these files) sees it
    val i1 = IcebergInterop.readIceberg(spark, dir).orderBy("id").collect()
    assert(i1.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "x"), (2L, "y"), (3L, "x")))
    // append + CoW delete keep both planes identical
    DeltaInterop.writeDelta(Seq((4L, "d", "z")).toDF("id", "tag", "p"), dir, Seq("p"))
    DeltaInterop.deleteWhere(spark, dir, col("p") === "x")
    val d = DeltaInterop.readDelta(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    val i2 = IcebergInterop.readIceberg(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(d == Seq((2L, "y"), (4L, "z")) && i2 == d)
    // Delta-plane partition pruning still comes from the log
    assert(DeltaInterop.readDeltaWhere(spark, dir,
      partitionEq = Map("p" -> "y")).count() == 1)
    // compaction keeps the materialized values (scattered-branch
    // rewrite re-injects them)
    DeltaInterop.writeDelta(Seq((5L, "e", "y")).toDF("id", "tag", "p"), dir, Seq("p"))
    DeltaInterop.compact(spark, dir)
    val i3 = IcebergInterop.readIceberg(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(i3 == Seq((2L, "y"), (4L, "z"), (5L, "y")))
  }

  test("refusals: row-tracked, DV ops, foreign uniform, clone strips") {
    val dir2 = dir0()
    DeltaInterop.writeDelta(Seq((1L, "a")).toDF("id", "tag"), dir2, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir2` SET TBLPROPERTIES ('delta.enableRowTracking'='true')")
    val e2 = intercept[IllegalArgumentException](DeltaInterop.enableUniform(spark, dir2))
    assert(e2.getMessage.contains("row-tracked"))

    val dir3 = dir0()
    DeltaInterop.writeDelta(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir3, Nil)
    DeltaInterop.enableUniform(spark, dir3)
    val e3 = intercept[IllegalArgumentException](
      DeltaInterop.deleteWhereDV(spark, dir3, col("id") === 1L))
    assert(e3.getMessage.contains("icebergCompat"))
    val e4 = intercept[IllegalArgumentException](
      DeltaInterop.setTableProperties(spark, dir3,
        Map("delta.enableRowTracking" -> "true")))
    assert(e4.getMessage.contains("deletion vectors"))

    // a clone of a uniform table is a PLAIN table (its Iceberg
    // metadata references the source location)
    val dir4 = dir0() + "/clone"
    DeltaInterop.shallowClone(spark, dir3, dir4)
    val stc = DeltaInterop.state(spark, dir4)
    assert(!IcebergUniform.enabled(stc))
    assert(!stc.protocol.writerFeatures.contains("icebergCompatV2"))
    DeltaInterop.writeDelta(Seq((9L, "z")).toDF("id", "tag"), dir4, Nil) // writes fine

    // a FOREIGN uniform table (icebergCompat feature, no graft marker)
    // refuses writes rather than let its Iceberg metadata go stale
    val f = new org.apache.hadoop.fs.Path(dir3).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir3,
      s"metadata/${IcebergUniform.MarkerName}"), false)
    val e5 = intercept[IllegalArgumentException](
      DeltaInterop.writeDelta(Seq((9L, "z")).toDF("id", "tag"), dir3, Nil))
    assert(e5.getMessage.contains("foreign icebergCompat"))
  }

  test("exactly-once streaming appends ride the FAST sync: replay adds no snapshot") {
    val dir = dir0()
    DeltaInterop.writeDelta(Seq((1L, "a")).toDF("id", "tag"), dir, Nil)
    DeltaInterop.enableUniform(spark, dir)
    val s1 = IcebergInterop.snapshots(spark, dir).count()
    // two micro-batches through the exactly-once sink path
    DeltaInterop.appendOnce(Seq((2L, "b")).toDF("id", "tag"), dir, Nil, "app", 0L)
    DeltaInterop.appendOnce(Seq((3L, "c")).toDF("id", "tag"), dir, Nil, "app", 1L)
    // a REPLAYED batch commits nothing — and must sync nothing
    DeltaInterop.appendOnce(Seq((3L, "c")).toDF("id", "tag"), dir, Nil, "app", 1L)
    assert(IcebergInterop.snapshots(spark, dir).count() == s1 + 2)
    val (d, i) = both(dir)
    assert(d == Seq((1L, "a"), (2L, "b"), (3L, "c")) && i == d)
    // the fast path rendered the appends: their snapshots record the
    // delta versions they mirror
    val sums = {
      import scala.jdk.CollectionConverters._
      val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val hint = f.open(new org.apache.hadoop.fs.Path(dir, "metadata/version-hint.text"))
      val v = try scala.io.Source.fromInputStream(hint).mkString.trim finally hint.close()
      val in = f.open(new org.apache.hadoop.fs.Path(dir, s"metadata/v$v.metadata.json"))
      val m = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in) finally in.close()
      m.path("snapshots").elements().asScala.map(
        _.path("summary").path("delta-version").asText).toSeq
    }
    assert(sums == Seq("1", "2", "3"))
  }

  test("expireSnapshots: reference-counted manifest reclaim; vacuum drives it") {
    val dir = dir0()
    DeltaInterop.writeDelta(Seq((1L, "a")).toDF("id", "tag"), dir, Nil)
    DeltaInterop.enableUniform(spark, dir)                      // snapshot 1 (m1)
    DeltaInterop.writeDelta(Seq((2L, "b")).toDF("id", "tag"), dir, Nil) // snapshot 2 (m1+m2)
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def manifests() = f.listStatus(new org.apache.hadoop.fs.Path(dir, "metadata"))
      .map(_.getPath.getName).filter(n => n.startsWith("uniform-m") && n.endsWith(".avro")).sorted
    assert(manifests().length == 2)
    // expire everything but current: snapshot 1 drops, but BOTH
    // manifests survive — the current snapshot's incremental chain
    // still references m1 (reclaim is by reference, never by age)
    IcebergUniform.expireSnapshots(spark, dir, 0L)
    assert(IcebergInterop.snapshots(spark, dir).count() == 1)
    assert(manifests().length == 2)
    val (d1, i1) = both(dir)
    assert(d1 == Seq((1L, "a"), (2L, "b")) && i1 == d1)
    // a CoW delete rewrites the live set into one manifest; vacuum at
    // retain 0 then expires the old snapshots AND reclaims m1/m2
    DeltaInterop.deleteWhere(spark, dir, col("id") === 1L)      // snapshot 3 (m3)
    val dataFilesBefore = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(s => s.getPath.getName.endsWith(".parquet"))
    val reclaimed = DeltaInterop.vacuum(spark, dir, retainMillis = 0L)
    val dataFilesAfter = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(s => s.getPath.getName.endsWith(".parquet"))
    // the returned count is DATA files only — the mirror's expired
    // metadata/manifest deletions are a side effect, not data reclaim
    assert(reclaimed == dataFilesBefore - dataFilesAfter,
      s"vacuum returned $reclaimed but data files went $dataFilesBefore -> $dataFilesAfter")
    assert(IcebergInterop.snapshots(spark, dir).count() == 1)
    assert(manifests().length == 1)
    val (d2, i2) = both(dir)
    assert(d2 == Seq((2L, "b")) && i2 == d2)
    // the expired snapshot is gone loudly, not readable as garbage
    intercept[IllegalArgumentException](
      IcebergInterop.readIceberg(spark, dir, snapshotId = Some(1L)).count())
  }


  test("ADOPT a foreign mirror: writes refuse before, validation gates, planes agree after") {
    val dir = dir0()
    DeltaInterop.writeDelta(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir, Nil)
    DeltaInterop.enableUniform(spark, dir)
    DeltaInterop.writeDelta(Seq((3L, "c")).toDF("id", "tag"), dir, Nil)
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val markerP = new org.apache.hadoop.fs.Path(dir,
      s"metadata/${IcebergUniform.MarkerName}")
    // make the mirror FOREIGN: delete the maintenance marker (the shape
    // a delta-spark-authored uniform table arrives in)
    assert(f.delete(markerP, false))
    val e = intercept[IllegalArgumentException](
      DeltaInterop.writeDelta(Seq((4L, "d")).toDF("id", "tag"), dir, Nil))
    assert(e.getMessage.contains("adoptUniform"), e.getMessage)

    // a DIVERGED mirror refuses adoption: point the hint at the stale
    // snapshot 1 (pre-append), so the file sets disagree
    val hintP = new org.apache.hadoop.fs.Path(dir, "metadata/version-hint.text")
    val hv = {
      val in = f.open(hintP)
      try scala.io.Source.fromInputStream(in).mkString.trim.toInt finally in.close()
    }
    def setHint(v: Int): Unit = {
      val out = f.create(hintP, true)
      try out.write(String.valueOf(v).getBytes) finally out.close()
    }
    setHint(1)
    val e2 = intercept[IllegalArgumentException](
      DeltaInterop.adoptUniform(spark, dir))
    assert(e2.getMessage.contains("diverged"), e2.getMessage)
    assert(!f.exists(markerP), "failed adoption must not leave a marker")

    // the intact mirror adopts; appends flow and BOTH planes agree
    setHint(hv)
    DeltaInterop.adoptUniform(spark, dir)
    DeltaInterop.writeDelta(Seq((4L, "d")).toDF("id", "tag"), dir, Nil)
    val (d, i) = both(dir)
    assert(d == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")) && i == d)
    // double adoption refuses (already ours)
    val e3 = intercept[IllegalArgumentException](
      DeltaInterop.adoptUniform(spark, dir))
    assert(e3.getMessage.contains("already maintained"), e3.getMessage)
  }

  test("uniform composes: identity columns generate, CDF records, SQL federation joins both planes") {
    val dir = dir0()
    // identity column + CDF on, THEN uniform
    spark.sql(s"CREATE TABLE delta.`$dir` (id BIGINT GENERATED ALWAYS AS IDENTITY, tag STRING) USING delta")
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES ('delta.enableChangeDataFeed'='true')")
    spark.sql(s"INSERT INTO delta.`$dir` (tag) VALUES ('a'), ('b')")
    DeltaInterop.enableUniform(spark, dir)
    spark.sql(s"INSERT INTO delta.`$dir` (tag) VALUES ('c')")
    val (d, i) = both(dir)
    assert(d.map(_._2) == Seq("a", "b", "c") && i == d)
    assert(d.map(_._1).distinct.length == 3) // identity values generated + unique
    // CDF kept recording through the uniform commits
    val changes = spark.sql(s"SELECT * FROM table_changes('$dir', 0)")
    assert(changes.filter(col("_change_type") === "insert").count() == 3)
    // SQL federation: the SAME table through BOTH planes in one query
    val n = spark.sql(
      s"SELECT count(*) AS n FROM delta.`$dir` d JOIN iceberg.`$dir` i ON d.id = i.id")
      .head().getLong(0)
    assert(n == 3)
  }

  test("SQL SET TBLPROPERTIES enables uniform end-to-end") {
    val dir = dir0()
    DeltaInterop.writeDelta(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir, Nil)
    spark.sql(s"ALTER TABLE delta.`$dir` SET TBLPROPERTIES " +
      "('delta.universalFormat.enabledFormats'='iceberg')")
    spark.sql(s"DELETE FROM delta.`$dir` WHERE id = 1")
    val (d, i) = both(dir)
    assert(d == Seq((2L, "b")) && i == d)
  }
}
