package graft

import java.nio.file.Files
import graft.io.DeltaInterop
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DeltaInteropSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def table(n: Int, rev: String = "a") =
    (0 until n).map(i => (i.toLong, s"name_$i", rev, i % 4)).toDF("id", "name", "rev", "part")

  test("writeDelta/readDelta: append and overwrite commits round-trip exactly") {
    val dir = Files.createTempDirectory("graft-delta-rt").toString
    // v0: 20 rows
    assert(DeltaInterop.writeDelta(table(20), dir, Seq("part")) == 0L)
    // v1: append 20 more (ids 100+)
    val more = table(20).withColumn("id", col("id") + 100)
    assert(DeltaInterop.writeDelta(more, dir, Seq("part")) == 1L)
    val afterAppend = DeltaInterop.readDelta(spark, dir)
    assert(afterAppend.count() == 40)
    assert(afterAppend.schema.fieldNames.toSeq == Seq("id", "name", "rev", "part"))
    // v2: full overwrite with rev=b, 12 rows
    assert(DeltaInterop.writeDelta(table(12, "b"), dir, Seq("part"), overwrite = true) == 2L)
    val latest = DeltaInterop.readDelta(spark, dir)
    assert(latest.count() == 12)
    assert(latest.filter(col("rev") === "a").count() == 0)
    // time travel: every prior version still reconstructs
    assert(DeltaInterop.readDelta(spark, dir, Some(0L)).count() == 20)
    assert(DeltaInterop.readDelta(spark, dir, Some(1L)).count() == 40)
    // partition column round-trips typed (int), not as a string
    assert(latest.schema("part").dataType.typeName == "integer")
    assert(latest.filter(col("part") === 2).count() == 3)
  }

  test("writeDelta: unpartitioned tables and empty-result reads work") {
    val dir = Files.createTempDirectory("graft-delta-flat").toString
    DeltaInterop.writeDelta(table(10), dir, Nil)
    assert(DeltaInterop.readDelta(spark, dir).count() == 10)
    DeltaInterop.writeDelta(table(10), dir, Nil, overwrite = true)
    assert(DeltaInterop.readDelta(spark, dir).count() == 10)
    assert(DeltaInterop.readDelta(spark, dir, Some(0L)).count() == 10)
  }

  test("writeDelta: additive schema evolution re-emits metaData; old files read as null") {
    val dir = Files.createTempDirectory("graft-delta-evo").toString
    DeltaInterop.writeDelta(table(8), dir, Seq("part"))
    val widened = table(8).withColumn("id", col("id") + 100)
      .withColumn("extra", col("id") * 2)
    DeltaInterop.writeDelta(widened, dir, Seq("part"))
    val t = DeltaInterop.readDelta(spark, dir)
    assert(t.schema.fieldNames.contains("extra"))
    assert(t.count() == 16)
    assert(t.filter(col("id") < 100 && col("extra").isNull).count() == 8)
    assert(t.filter(col("id") >= 100 && col("extra").isNotNull).count() == 8)
    // dropping a column is rejected (additive-only, like the store)
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.writeDelta(table(4).drop("rev"), dir, Seq("part"))
    }
    assert(e.getMessage.contains("additive-only"))
  }

  test("commit is put-if-absent: a racing writer gets a version conflict, not a corrupt log") {
    val dir = Files.createTempDirectory("graft-delta-race").toString
    DeltaInterop.writeDelta(table(4), dir, Seq("part"))
    // the loser's view: it computed prev=-1, but version 0 is already
    // committed — its put-if-absent create must fail, not clobber
    val e = intercept[IllegalStateException] {
      DeltaInterop.commit(spark, dir, 0L, Seq("""{"commitInfo":{}}"""))
    }
    assert(e.getMessage.contains("concurrent Delta commit"))
    // the winner's log is untouched
    assert(DeltaInterop.readDelta(spark, dir).count() == 4)
  }

  test("checkpoint: state from checkpoint ≡ full JSON replay; survives log cleanup; bounds below it") {
    val dir = Files.createTempDirectory("graft-delta-cp").toString
    // 6 commits, auto-checkpoint disabled — we checkpoint explicitly
    (0 until 6).foreach { i =>
      DeltaInterop.writeDelta(table(4).withColumn("id", col("id") + i * 10),
        dir, Seq("part"), overwrite = false, checkpointInterval = 0)
    }
    val fullReplay = DeltaInterop.readDelta(spark, dir).orderBy("id").collect().toSeq
    val nFiles = DeltaInterop.state(spark, dir).files.length
    assert(DeltaInterop.lastCheckpoint(spark, dir).isEmpty)
    assert(DeltaInterop.checkpoint(spark, dir) == 5L)
    val (cpV, cpSize) = DeltaInterop.lastCheckpoint(spark, dir).get
    assert(cpV == 5L && cpSize == 2 + nFiles) // protocol + metaData + adds
    // same state through the checkpoint (it takes precedence at v>=5)
    assert(DeltaInterop.readDelta(spark, dir).orderBy("id").collect().toSeq == fullReplay)
    // cleanup drops JSON 0-4; latest still reads, tail commits still apply
    assert(DeltaInterop.cleanupLog(spark, dir) == 5)
    DeltaInterop.writeDelta(table(4).withColumn("id", col("id") + 60),
      dir, Seq("part"), overwrite = false, checkpointInterval = 0)
    val afterTail = DeltaInterop.readDelta(spark, dir)
    assert(afterTail.count() == 28)
    assert(DeltaInterop.readDelta(spark, dir, Some(5L)).orderBy("id").collect().toSeq == fullReplay)
    // time travel BELOW the checkpoint is gone with the log prefix
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.readDelta(spark, dir, Some(3L))
    }
    assert(e.getMessage.contains("missing log version"))
    // a second checkpoint at the new head supersedes the pointer
    assert(DeltaInterop.checkpoint(spark, dir) == 6L)
    assert(DeltaInterop.lastCheckpoint(spark, dir).get._1 == 6L)
    assert(DeltaInterop.cleanupLog(spark, dir) == 1) // only v5's json is below v6
    assert(DeltaInterop.readDelta(spark, dir).count() == 28)
  }

  test("writeDelta auto-checkpoints on the interval cadence") {
    val dir = Files.createTempDirectory("graft-delta-autocp").toString
    (0 until 4).foreach { i =>
      DeltaInterop.writeDelta(table(3).withColumn("id", col("id") + i * 10),
        dir, Seq("part"), overwrite = false, checkpointInterval = 3)
    }
    // commits 0,1,2,3 — the interval-3 cadence checkpoints at v3
    assert(DeltaInterop.lastCheckpoint(spark, dir).map(_._1).contains(3L))
    assert(DeltaInterop.cleanupLog(spark, dir) == 3)
    assert(DeltaInterop.readDelta(spark, dir).count() == 12)
  }

  test("writeDeltaResilient rebases an append that loses the version race; data staged once") {
    val dir = Files.createTempDirectory("graft-delta-rebase").toString
    DeltaInterop.writeDelta(table(8), dir, Seq("part")) // v0
    // a racing writer lands BETWEEN our head read and our commit —
    // deterministically, via the pre-commit seam (guarded: the
    // interloper's own commit must not re-fire it)
    var fired = false
    DeltaInterop.preCommitHook = () =>
      if (!fired) {
        fired = true
        DeltaInterop.writeDelta(
          table(4).withColumn("id", col("id") + 500), dir, Seq("part"))
      }
    try {
      val v = DeltaInterop.writeDelta(
        table(8).withColumn("id", col("id") + 100), dir, Seq("part"))
      assert(v == 2L, s"expected rebase onto the interloper's v1, got $v")
    } finally DeltaInterop.preCommitHook = () => ()
    assert(fired)
    val t = DeltaInterop.readDelta(spark, dir)
    assert(t.count() == 20) // 8 original + 4 interloper + 8 rebased
    assert(t.filter(col("id") >= 500).count() == 4)
    assert(t.filter(col("id") >= 100 && col("id") < 500).count() == 8)
    // every staged file is referenced — the rebase reused the one
    // staging instead of re-writing (no orphans for vacuum to reclaim)
    assert(DeltaInterop.vacuum(spark, dir, retainMillis = 0L) == 0)
    // an OVERWRITE that loses the race fails fast instead of silently
    // clobbering the interloper's commit
    var fired2 = false
    DeltaInterop.preCommitHook = () =>
      if (!fired2) {
        fired2 = true
        DeltaInterop.writeDelta(
          table(2).withColumn("id", col("id") + 900), dir, Seq("part"))
      }
    try {
      val e = intercept[IllegalStateException] {
        DeltaInterop.writeDelta(table(3, "c"), dir, Seq("part"), overwrite = true)
      }
      assert(e.getMessage.contains("concurrent Delta commit"))
    } finally DeltaInterop.preCommitHook = () => ()
    assert(DeltaInterop.readDelta(spark, dir).filter(col("id") >= 900).count() == 2)
  }

  test("txn watermark survives checkpoint + log cleanup: old-batch replays stay dropped") {
    val dir = Files.createTempDirectory("graft-delta-txncp").toString
    (0 until 3).foreach { b =>
      DeltaInterop.appendOnce(table(4).withColumn("id", col("id") + b * 10),
        dir, Seq("part"), "appA", b)
    }
    assert(DeltaInterop.readDelta(spark, dir).count() == 12)
    // age the whole JSON history into a checkpoint
    DeltaInterop.checkpoint(spark, dir)
    assert(DeltaInterop.cleanupLog(spark, dir) == 2)
    assert(DeltaInterop.state(spark, dir).txns == Map("appA" -> 2L))
    // a replay of batch 1 — its txn action now lives ONLY in the
    // checkpoint — must still be recognized and dropped
    val v = DeltaInterop.appendOnce(table(4).withColumn("id", col("id") + 10),
      dir, Seq("part"), "appA", 1L)
    assert(DeltaInterop.readDelta(spark, dir).count() == 12, "replay double-committed")
    assert(v == DeltaInterop.latestVersion(spark, dir))
    // a different app's batches are independent watermarks
    DeltaInterop.appendOnce(table(2).withColumn("id", col("id") + 100),
      dir, Seq("part"), "appB", 0L)
    assert(DeltaInterop.readDelta(spark, dir).count() == 14)
    assert(DeltaInterop.state(spark, dir).txns == Map("appA" -> 2L, "appB" -> 0L))
  }

  test("compact rewrites small files per partition with dataChange=false; vacuum reclaims originals") {
    val dir = Files.createTempDirectory("graft-delta-opt").toString
    // 5 appends × 4 partitions ⇒ ≥ 5 small files per partition
    (0 until 5).foreach { i =>
      DeltaInterop.writeDelta(table(8).withColumn("id", col("id") + i * 10),
        dir, Seq("part"), overwrite = false, checkpointInterval = 0)
    }
    val before = DeltaInterop.state(spark, dir)
    val preCompact = DeltaInterop.readDelta(spark, dir).orderBy("id").collect().toSeq
    val (v, rewritten, created) = DeltaInterop.compact(spark, dir)
    assert(v == 5L && rewritten == before.files.length && created < rewritten,
      s"v=$v rewritten=$rewritten created=$created of ${before.files.length}")
    assert(DeltaInterop.state(spark, dir).files.length == created)
    // byte-identical data, and the swap is flagged dataChange=false
    assert(DeltaInterop.readDelta(spark, dir).orderBy("id").collect().toSeq == preCompact)
    val logLines = scala.io.Source.fromFile(
      s"$dir/_delta_log/00000000000000000005.json", "UTF-8").getLines().toList
      .filterNot(_.startsWith("{\"commitInfo\"")) // the ICT line carries no dataChange
    assert(logLines.nonEmpty && logLines.forall(_.contains("\"dataChange\":false")))
    // originals stay for time travel until vacuumed
    assert(DeltaInterop.readDelta(spark, dir, Some(4L)).orderBy("id").collect().toSeq == preCompact)
    // vacuum with the adds still in retained log: deletes nothing
    assert(DeltaInterop.vacuum(spark, dir, retainMillis = 0L) == 0)
    // age the originals out of the log, then reclaim them
    DeltaInterop.checkpoint(spark, dir)
    assert(DeltaInterop.cleanupLog(spark, dir) == 5)
    assert(DeltaInterop.vacuum(spark, dir, retainMillis = 0L) == rewritten)
    assert(DeltaInterop.readDelta(spark, dir).orderBy("id").collect().toSeq == preCompact)
    // a second compact finds nothing to do (single file per partition)
    val (v2, r2, c2) = DeltaInterop.compact(spark, dir)
    assert(v2 == 5L && r2 == 0 && c2 == 0)
  }

  test("vacuum retention window: recent unreferenced files survive the default window") {
    // writeDelta's stageData renames files into final table paths BEFORE
    // the log commit — a vacuum racing an in-flight writer must not eat
    // them. The default retention window is the guard: a freshly-written
    // unreferenced file (here: an orphan simulating the pre-commit state)
    // is skipped; RETAIN-0 reclaims it deterministically.
    val dir = Files.createTempDirectory("graft-delta-retain").toString
    DeltaInterop.writeDelta(table(8), dir, Seq("part"), overwrite = false,
      checkpointInterval = 0)
    val keep = DeltaInterop.readDelta(spark, dir).orderBy("id").collect().toSeq
    // orphan data file at a final table path, NOT in the log (an
    // in-flight writer between stageData and commit looks exactly like this)
    val partDir = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.contains("=")).head
    val orphan = new java.io.File(partDir, "inflight-0000.parquet")
    spark.range(1).write.parquet(s"$dir/.orphan-staging")
    val staged = new java.io.File(s"$dir/.orphan-staging").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(staged.renameTo(orphan))
    // default window: the fresh orphan is inside retention — untouched
    assert(DeltaInterop.vacuum(spark, dir) == 0)
    assert(orphan.exists)
    // aged past the window (mtime pushed back 8 days): reclaimed
    assert(orphan.setLastModified(
      System.currentTimeMillis() - 8L * 24 * 3600 * 1000))
    assert(DeltaInterop.vacuum(spark, dir) == 1)
    assert(!orphan.exists)
    // the committed table is intact throughout
    assert(DeltaInterop.readDelta(spark, dir).orderBy("id").collect().toSeq == keep)
  }

  test("data skipping: range reads prune files from log stats alone; statless files are kept") {
    val dir = Files.createTempDirectory("graft-delta-skip").toString
    // range-partition on id so files carry disjoint id ranges
    val t = (0 until 400).map(i => (i.toLong, s"n_$i", i % 4)).toDF("id", "name", "part")
      .repartitionByRange(8, col("id"))
    DeltaInterop.writeDelta(t, dir, Nil)
    val st = DeltaInterop.state(spark, dir)
    assert(st.files.length == 8 && st.files.forall(_.stats != null))
    assert(st.files.forall(a => a.stats.contains("minValues") && a.stats.contains("\"id\"")))
    // a narrow range touches a strict subset of files
    val hit = DeltaInterop.filesInRange(st, "id", 100, 120)
    assert(hit.length < st.files.length && hit.nonEmpty,
      s"no pruning: ${hit.length} of ${st.files.length}")
    val r = DeltaInterop.readDeltaRange(spark, dir, "id", 100, 120)
    assert(r.count() == 21)
    assert(r.agg(sum("id")).head.getLong(0) == (100 to 120).sum)
    // an empty range prunes everything and still returns a typed frame
    assert(DeltaInterop.readDeltaRange(spark, dir, "id", 5000, 6000).count() == 0)
    // a column with no numeric stats (string) keeps every file
    assert(DeltaInterop.filesInRange(st, "name", 0, 1).length == st.files.length)
    // stats survive a checkpoint round-trip
    DeltaInterop.checkpoint(spark, dir)
    DeltaInterop.cleanupLog(spark, dir)
    val st2 = DeltaInterop.state(spark, dir)
    assert(DeltaInterop.filesInRange(st2, "id", 100, 120).length == hit.length)
    assert(DeltaInterop.readDeltaRange(spark, dir, "id", 100, 120).count() == 21)

    // decimal, DATE and TIMESTAMP columns: bounds are written in the
    // Delta stats encoding (PROTOCOL.md "Per-file Statistics"), never
    // as raw parquet physical values — a decimal's unscaled integer or
    // a date's epoch day would prune files that hold matching rows
    val amounts = Seq("0.05", "1.25", "3.10", "4.99", "5.00", "5.50",
      "5.99", "6.00", "6.01", "7.75", "9.40", "12.00").map(BigDecimal(_))
    val typed = amounts.zipWithIndex.map { case (a, i) =>
      (i.toLong, a, java.time.LocalDate.of(2024, 1, 1).plusDays(i * 10L).toString,
        1704067200000000L + i * 3600000000L + 123456L)
    }.toDF("id", "amt", "d", "micros")
      .withColumn("amt", col("amt").cast("decimal(10,2)"))
      .withColumn("d", to_date(col("d")))
      .withColumn("ts", timestamp_micros(col("micros"))).drop("micros")
      .repartitionByRange(3, col("amt"))
    val tdir = Files.createTempDirectory("graft-delta-skip-typed").toString
    DeltaInterop.writeDelta(typed, tdir, Nil)
    val tst = DeltaInterop.state(spark, tdir)
    assert(tst.files.length == 3)
    val iso = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(java.time.ZoneOffset.UTC)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def micros(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    tst.files.foreach { a =>
      val rows = spark.read.parquet(s"$tdir/${a.path}").collect()
      val amts = rows.map(r => BigDecimal(r.getDecimal(1)))
      val days = rows.map(_.getDate(2).toLocalDate)
      val ts = rows.map(r => micros(r.getTimestamp(3)))
      val n = json.readTree(a.stats)
      val (mn, mx) = (n.path("minValues"), n.path("maxValues"))
      assert(mn.path("amt").isNumber && mx.path("amt").isNumber, a.stats)
      assert(BigDecimal(mn.path("amt").decimalValue) == amts.min, a.stats)
      assert(BigDecimal(mx.path("amt").decimalValue) == amts.max, a.stats)
      // both bounds keep the column's scale in the JSON text ("5.50")
      assert("\"amt\":-?\\d+\\.\\d{2}[,}]".r.findAllIn(a.stats).size == 2, a.stats)
      assert(mn.path("d").asText == days.minBy(_.toEpochDay).toString, a.stats)
      assert(mx.path("d").asText == days.maxBy(_.toEpochDay).toString, a.stats)
      // millisecond precision: the min floors, the max ceils, so the
      // recorded range still covers every row's microseconds
      assert(mn.path("ts").asText ==
        iso.format(java.time.Instant.ofEpochMilli(Math.floorDiv(ts.min, 1000L))), a.stats)
      assert(mx.path("ts").asText ==
        iso.format(java.time.Instant.ofEpochMilli(-Math.floorDiv(-ts.max, 1000L))), a.stats)
    }
    val want = typed.collect().filter { r =>
      val x = BigDecimal(r.getDecimal(1)); x >= 5 && x <= 6
    }.map(_.getLong(0)).sorted.toSeq
    assert(want.length == 4)
    assert(DeltaInterop.prunedFiles(tst, ranges = Map("amt" -> ((5.0, 6.0)))).length <
      tst.files.length, "decimal bounds must still prune")
    assert(DeltaInterop.readDeltaWhere(spark, tdir, ranges = Map("amt" -> ((5.0, 6.0))))
      .collect().map(_.getLong(0)).sorted.toSeq == want)
  }

  test("prunedFiles: log-side partition pruning composes with range skipping") {
    val dir = Files.createTempDirectory("graft-delta-prune2").toString
    DeltaInterop.writeDelta(table(200), dir, Seq("part")) // parts 0-3, 50 rows each
    val st = DeltaInterop.state(spark, dir)
    // partition equality prunes from the LOG's values (works identically
    // for foreign flat layouts, where the paths carry nothing)
    val p2 = DeltaInterop.prunedFiles(st, partitionEq = Map("part" -> "2"))
    assert(p2.nonEmpty && p2.length < st.files.length)
    assert(p2.forall(_.partitionValues("part") == "2"))
    val r = DeltaInterop.readDeltaWhere(spark, dir, partitionEq = Map("part" -> "2"))
    assert(r.count() == 50)
    assert(r.filter(col("part") =!= 2).count() == 0)
    // composed with a range on id: both prunings engage, result exact
    val both = DeltaInterop.readDeltaWhere(spark, dir,
      partitionEq = Map("part" -> "2"), ranges = Map("id" -> ((0.0, 99.0))))
    assert(both.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 200L).filter(i => i % 4 == 2 && i <= 99).toSeq)
    // a partition value absent from the table prunes everything
    assert(DeltaInterop.prunedFiles(st, partitionEq = Map("part" -> "9")).isEmpty)
    assert(DeltaInterop.readDeltaWhere(spark, dir, partitionEq = Map("part" -> "9")).count() == 0)
  }

  test("a null partition value is JSON null in the log; the old Hive sentinel still reads as null") {
    val dir = Files.createTempDirectory("graft-delta-nullpart").toString
    val df = Seq((1L, Option(3)), (2L, Option.empty[Int])).toDF("id", "p")
    DeltaInterop.writeDelta(df, dir, Seq("p"))
    val log0 = new java.io.File(f"$dir/_delta_log/${0L}%020d.json")
    val json = new String(Files.readAllBytes(log0.toPath), "UTF-8")
    // the directory keeps Hive's sentinel; the log's value is JSON null
    assert(json.contains("\"partitionValues\":{\"p\":null}") &&
      !json.contains("\"p\":\"__HIVE_DEFAULT_PARTITION__\""), json)
    def rows() = DeltaInterop.readDelta(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSeq
    assert(rows() == Seq((1L, Some(3)), (2L, None)))
    val st = DeltaInterop.state(spark, dir)
    assert(DeltaInterop.prunedFiles(st, partitionEq = Map("p" -> "3")).length == 1)
    assert(DeltaInterop.readDeltaWhere(spark, dir, partitionEq = Map("p" -> "3"))
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a checkpoint keeps the null partition too
    DeltaInterop.checkpoint(spark, dir)
    DeltaInterop.cleanupLog(spark, dir)
    assert(rows() == Seq((1L, Some(3)), (2L, None)))
    // a log that spells the null partition as Hive's sentinel reads the same
    val old = Files.createTempDirectory("graft-delta-nullpart-old").toString
    DeltaInterop.writeDelta(df, old, Seq("p"))
    val oldLog = java.nio.file.Paths.get(f"$old/_delta_log/${0L}%020d.json")
    Files.write(oldLog, new String(Files.readAllBytes(oldLog), "UTF-8")
      .replace("\"p\":null", "\"p\":\"__HIVE_DEFAULT_PARTITION__\"").getBytes("UTF-8"))
    Files.deleteIfExists(java.nio.file.Paths.get(f"$old/_delta_log/.${0L}%020d.json.crc"))
    assert(DeltaInterop.readDelta(spark, old).orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSeq == Seq((1L, Some(3)), (2L, None)))
  }

  test("stock spark-shell (no graft, no delta jars) reads the written table from the log alone") {
    val dir = Files.createTempDirectory("graft-delta-stock").toString
    DeltaInterop.writeDelta(table(30), dir, Seq("part"))
    DeltaInterop.writeDelta(table(30).withColumn("id", col("id") + 100), dir, Seq("part"))
    DeltaInterop.writeDelta(table(18, "b"), dir, Seq("part"), overwrite = true)
    // a second, CHECKPOINTED table whose log prefix is deleted — the
    // stock reader must resume from the plain-parquet checkpoint
    val dir2 = Files.createTempDirectory("graft-delta-stock-cp").toString
    (0 until 5).foreach { i =>
      DeltaInterop.writeDelta(table(3).withColumn("id", col("id") + i * 10),
        dir2, Seq("part"), overwrite = false, checkpointInterval = 3)
    }
    assert(DeltaInterop.cleanupLog(spark, dir2) == 3)
    // expected: 5 commits × 3 rows; idsum = 5·(0+1+2) + 10·(0+..+4)·3
    // expected final state: 18 rows, all rev=b, id sum = 0+..+17
    val script =
      s"""
         |import org.apache.spark.sql.functions._
         |import org.apache.spark.sql.types.{DataType, StructType}
         |val dir = "$dir"
         |val logs = new java.io.File(dir + "/_delta_log").listFiles
         |  .filter(_.getName.endsWith(".json")).sortBy(_.getName)
         |val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
         |var schema: StructType = null
         |var partCols: Seq[String] = Nil
         |val live = scala.collection.mutable.LinkedHashSet[String]()
         |for (f <- logs; line <- scala.io.Source.fromFile(f, "UTF-8").getLines if line.nonEmpty) {
         |  val n = mapper.readTree(line)
         |  if (n.has("metaData")) {
         |    schema = DataType.fromJson(n.get("metaData").get("schemaString").asText).asInstanceOf[StructType]
         |    val it = n.get("metaData").get("partitionColumns").elements
         |    val b = Seq.newBuilder[String]; while (it.hasNext) b += it.next.asText
         |    partCols = b.result()
         |  } else if (n.has("add")) live += n.get("add").get("path").asText
         |  else if (n.has("remove")) live -= n.get("remove").get("path").asText
         |}
         |val dataSchema = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
         |val df = spark.read.option("basePath", dir).schema(dataSchema)
         |  .parquet(live.toSeq.map(p => dir + "/" + p): _*)
         |  .select(schema.fieldNames.map(col): _*)
         |println("DELTAREAD rows=" + df.count + " revb=" + df.filter(col("rev") === "b").count +
         |  " idsum=" + df.agg(sum("id")).head.getLong(0))
         |// table 2: resume from the _last_checkpoint parquet + JSON tail
         |val dir2 = "$dir2"
         |val lc = mapper.readTree(new java.io.File(dir2 + "/_delta_log/_last_checkpoint"))
         |val cpV = lc.get("version").asLong
         |val cpFile = dir2 + "/_delta_log/" + ("%020d".format(cpV)) + ".checkpoint.parquet"
         |var schema2: StructType = null
         |var partCols2: Seq[String] = Nil
         |val live2 = scala.collection.mutable.LinkedHashSet[String]()
         |for (r <- spark.read.parquet(cpFile).collect) {
         |  val mi = r.fieldIndex("metaData")
         |  if (!r.isNullAt(mi)) {
         |    val md = r.getStruct(mi)
         |    schema2 = DataType.fromJson(md.getAs[String]("schemaString")).asInstanceOf[StructType]
         |    partCols2 = md.getSeq[String](md.fieldIndex("partitionColumns")).toList
         |  }
         |  val ai = r.fieldIndex("add")
         |  if (!r.isNullAt(ai)) live2 += r.getStruct(ai).getAs[String]("path")
         |}
         |val tail2 = new java.io.File(dir2 + "/_delta_log").listFiles
         |  .filter(f => f.getName.endsWith(".json") && f.getName.stripSuffix(".json").forall(_.isDigit))
         |  .filter(_.getName.stripSuffix(".json").toLong > cpV).sortBy(_.getName)
         |for (f <- tail2; line <- scala.io.Source.fromFile(f, "UTF-8").getLines if line.nonEmpty) {
         |  val n = mapper.readTree(line)
         |  if (n.has("add")) live2 += n.get("add").get("path").asText
         |  else if (n.has("remove")) live2 -= n.get("remove").get("path").asText
         |}
         |val dataSchema2 = StructType(schema2.fields.filterNot(f => partCols2.contains(f.name)))
         |val df2 = spark.read.option("basePath", dir2).schema(dataSchema2)
         |  .parquet(live2.toSeq.map(p => dir2 + "/" + p): _*)
         |  .select(schema2.fieldNames.map(col): _*)
         |println("DELTACP rows=" + df2.count + " idsum=" + df2.agg(sum("id")).head.getLong(0))
         |sys.exit(0)
         |""".stripMargin
    val scriptFile = Files.createTempFile("delta-stock-read", ".scala")
    Files.write(scriptFile, script.getBytes("UTF-8"))
    val cmd = Seq("/opt/spark/bin/spark-shell", "--master", "local[2]",
      "--conf", "spark.ui.enabled=false", "-i", scriptFile.toString)
    val out = new StringBuilder
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().remove("SPARK_HOME") // the stock launcher finds its own
    val proc = pb.start()
    scala.io.Source.fromInputStream(proc.getInputStream).getLines()
      .foreach(l => out.append(l).append('\n'))
    assert(proc.waitFor() == 0, s"stock spark-shell read failed:\n$out")
    val expectedSum = (0 until 18).sum
    assert(out.toString.contains(s"DELTAREAD rows=18 revb=18 idsum=$expectedSum"),
      s"unexpected stock-read output:\n$out")
    val expectedSum2 = 5 * (0 + 1 + 2) + 10 * (0 + 1 + 2 + 3 + 4) * 3
    assert(out.toString.contains(s"DELTACP rows=15 idsum=$expectedSum2"),
      s"unexpected stock checkpoint-read output:\n$out")
  }

  test("MERGE stats-prunes its probe scans by source key range; untouched out-of-range files survive") {
    val dir = Files.createTempDirectory("graft-merge-prune").toString
    // 4 range-disjoint files on id: [0..9] [10..19] [20..29] [30..39]
    import org.apache.spark.sql.functions.col
    DeltaInterop.writeDelta(
      (0L until 40L).map(i => (i, s"n_$i", "a", (i / 10).toInt)).toDF("id", "name", "rev", "part")
        .repartitionByRange(4, col("id")), dir, Nil)
    val before = DeltaInterop.state(spark, dir).files.map(_.path).toSet
    // source touches ONLY the [20..29] band (update 25, insert 27.5 — no: key 23)
    val src = Seq((25L, "upd", "z", 2), (21L, "upd2", "z", 2)).toDF("id", "name", "rev", "part")
    val (v, rewrote, nIns) = DeltaInterop.merge(spark, dir, src, Seq("id"))
    assert(v > 0 && rewrote == 1 && nIns == 0L,
      s"expected exactly the one overlapping file rewritten, got $rewrote (+$nIns ins)")
    assert(DeltaInterop.lastMergeProbeFiles.get() == 1,
      s"stats pruning did not engage: probe scanned " +
      s"${DeltaInterop.lastMergeProbeFiles.get()} of 4 files")
    val after = DeltaInterop.state(spark, dir).files.map(_.path).toSet
    assert((before intersect after).size == before.size - 1)
    val t = DeltaInterop.readDelta(spark, dir)
    assert(t.count() == 40)
    assert(t.filter(col("id") === 25L).select("rev").as[String].head() == "z")
  }

  test("MERGE with a NULL source key null-safe-matches the NULL target row (pruning must not drop it)") {
    val dir = Files.createTempDirectory("graft-merge-null").toString
    val t0 = Seq[(java.lang.Long, String)]((1L, "one"), (2L, "two"), (null, "nil"))
      .toDF("id", "name")
    DeltaInterop.writeDelta(t0, dir, Nil)
    val src = Seq[(java.lang.Long, String)]((null, "nil v2"), (9L, "nine"))
      .toDF("id", "name")
    val (_, rewrote, nIns) = DeltaInterop.merge(spark, dir, src, Seq("id"))
    assert(rewrote >= 1 && nIns == 1L)
    val rows = DeltaInterop.readDelta(spark, dir)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((-1L, "nil v2"), (1L, "one"), (2L, "two"), (9L, "nine")))
  }
}
