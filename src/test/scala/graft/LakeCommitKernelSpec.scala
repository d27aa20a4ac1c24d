package graft

import java.io.File
import java.nio.file.Files

import graft.io.{DeltaInterop, IcebergInterop, IcebergWrite}
import graft.io.lake.Commit
import graft.io.lake.Commit.LostRace
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The one optimistic-commit loop ([[Commit.optimistic]]) on its own,
  * then through Delta and Iceberg appends that lose every race. */
class LakeCommitKernelSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private val local = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())

  private def touch(dir: File, name: String): Path = {
    val p = new Path(new File(dir, name).getPath)
    Files.write(new File(dir, name).toPath, Array[Byte](1))
    p
  }

  test("Commit.optimistic: lost attempts drop their files; replay, conflict and the limit end the loop") {
    val dir = Files.createTempDirectory("graft-commit-kernel").toFile
    val table = dir.toString
    val staged = touch(dir, "staged")

    // two losses, then a win: each lost attempt's declared file goes
    var n = 0
    val won = Commit.optimistic(local, "append", table, staged = Seq(staged)) { at =>
      assert(at.n == n)
      val mine = at.declare(touch(dir, s"manifest-${at.n}"))
      n += 1
      if (at.n < 2) throw new LostRace("lost") else mine.getName
    }
    assert(won == "manifest-2" && n == 3)
    assert(dir.list().toSet == Set("staged", "manifest-2"))

    // a duplicate writer's result wins after a loss; the staged file drops
    val replayed = Commit.optimistic(local, "append", table, staged = Seq(staged),
      replayed = Some("theirs")) { at =>
      at.declare(touch(dir, "manifest-r"))
      throw new LostRace("lost")
    }
    assert(replayed == "theirs")
    assert(dir.list().toSet == Set("manifest-2"))

    // an operation that must not rebase refuses with its own error
    val staged2 = touch(dir, "staged2")
    val refused = intercept[IllegalArgumentException] {
      Commit.optimistic(local, "overwrite", table, staged = Seq(staged2),
        conflict = _ => Some(new IllegalArgumentException("refused"))) { at =>
        at.declare(touch(dir, "manifest-c"))
        throw new LostRace("lost")
      }
    }
    assert(refused.getMessage == "refused")
    assert(dir.list().toSet == Set("manifest-2"))

    // every attempt lost: 1 + MaxCommitRetries attempts, then one final
    // LostRace naming the operation, the table and the limit
    val staged3 = touch(dir, "staged3")
    var attempts = 0
    val e = intercept[LostRace] {
      Commit.optimistic(local, "append", table, staged = Seq(staged3)) { at =>
        attempts += 1
        at.declare(touch(dir, s"manifest-x${at.n}"))
        throw new LostRace("lost")
      }
    }
    assert(attempts == 1 + Commit.MaxCommitRetries)
    assert(e.getMessage.contains("append") && e.getMessage.contains(table) &&
      e.getMessage.contains(s"retry limit ${Commit.MaxCommitRetries}"), e.getMessage)
    assert(dir.list().toSet == Set("manifest-2"))

    // that final LostRace is not retried by an enclosing loop, and any
    // other error passes through without touching declared files
    var outer = 0
    intercept[LostRace] {
      Commit.optimistic(local, "outer", table) { _ =>
        outer += 1
        Commit.optimistic(local, "inner", table)(_ => throw new LostRace("lost"))
      }
    }
    assert(outer == 1)
    intercept[java.io.IOException] {
      Commit.optimistic(local, "append", table) { at =>
        at.declare(touch(dir, "manifest-io"))
        throw new java.io.IOException("disk")
      }
    }
    assert(dir.list().toSet == Set("manifest-2", "manifest-io"))
  }

  test("writeDelta and IcebergWrite.append give up after 1 + MaxCommitRetries lost races, leaving no attempt's files") {
    import spark.implicits._
    val rows = (0 until 5).map(i => (i.toLong, s"r$i")).toDF("id", "tag")

    val delta = Files.createTempDirectory("graft-delta-exhaust").toString
    DeltaInterop.writeDelta(rows, delta, Nil)
    val deltaLogBefore = new File(delta, "_delta_log").list().toSet
    var deltaCalls = 0
    // a thief commits the version each attempt read as next
    DeltaInterop.preCommitHook = () => {
      deltaCalls += 1
      val v = DeltaInterop.latestVersion(spark, delta) + 1
      DeltaInterop.commit(spark, delta, v, Seq(s"""{"txn":{"appId":"thief","version":$v}}"""))
    }
    val de = try intercept[LostRace](DeltaInterop.writeDelta(rows, delta, Nil))
      finally DeltaInterop.preCommitHook = () => ()
    assert(deltaCalls == 1 + Commit.MaxCommitRetries, de.getMessage)
    val deltaLog = new File(delta, "_delta_log").list().toSet -- deltaLogBefore
    assert(deltaLog.forall(_.matches("""\d{20}\.json""")) && deltaLog.size == deltaCalls, deltaLog)
    assert(DeltaInterop.readDelta(spark, delta).count() == 5)
    assert(DeltaInterop.vacuum(spark, delta, retainMillis = 0L) == 0,
      "the lost append's staged files must be gone")

    val ice = Files.createTempDirectory("graft-iceberg-exhaust").toString
    IcebergWrite.append(rows, ice)
    val meta = new File(ice, "metadata")
    val metaBefore = meta.list().toSet
    val dataBefore = new File(ice, "data").list().toSet
    val VersionRe = """^v(\d+)\.metadata\.json$""".r
    var iceCalls = 0
    // a thief takes the next metadata version before every attempt
    IcebergWrite.onBeforeCommit = () => {
      iceCalls += 1
      val v = meta.list().toSeq.collect { case VersionRe(n) => n.toInt }.max
      Files.copy(new File(meta, s"v$v.metadata.json").toPath,
        new File(meta, s"v${v + 1}.metadata.json").toPath)
    }
    val ie = try intercept[LostRace](IcebergWrite.append(rows, ice))
      finally IcebergWrite.onBeforeCommit = () => ()
    assert(iceCalls == 1 + Commit.MaxCommitRetries, ie.getMessage)
    val metaLeft = meta.list().toSet -- metaBefore
    assert(metaLeft.forall(VersionRe.findFirstIn(_).isDefined) && metaLeft.size == iceCalls,
      s"lost attempts left ${metaLeft.toSeq.sorted}")
    assert(new File(ice, "data").list().toSet == dataBefore)
    assert(IcebergInterop.readIceberg(spark, ice).count() == 5)
  }

  /** An empty Delta table whose `row_id` is GENERATED AS IDENTITY. */
  private def identityTable(): String = {
    val dir = Files.createTempDirectory("graft-delta-identity-race").toString
    val id = new MetadataBuilder()
      .putLong("delta.identity.start", 1L).putLong("delta.identity.step", 1L).build()
    val schema = StructType(Seq(StructField("row_id", LongType, nullable = true, id),
      StructField("k", LongType), StructField("tag", StringType)))
    DeltaInterop.writeDelta(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema), dir, Nil)
    dir
  }

  /** Parquet files under `dir` outside the log: what the table's adds
    * must account for once every staged loser is gone. */
  private def dataFiles(dir: String): Set[String] = {
    val root = new File(dir)
    def walk(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten.flatMap { x =>
      if (x.isDirectory) { if (x.getName == "_delta_log") Nil else walk(x) }
      else if (x.getName.endsWith(".parquet")) Seq(x) else Nil
    }
    walk(root).map(x => root.toPath.relativize(x.toPath).toString).toSet
  }

  test("a writeDelta append whose winner changed the metaData it was staged against refuses") {
    import spark.implicits._
    def batch(from: Long) = (from until from + 5).map(k => (k, s"r$k")).toDF("k", "tag")
    /** Run `append` while `winner` commits first, once, from the hook. */
    def racedBy[A](winner: => Unit)(append: => A): A = {
      DeltaInterop.preCommitHook = () => {
        DeltaInterop.preCommitHook = () => ()
        winner
      }
      try append finally DeltaInterop.preCommitHook = () => ()
    }

    // identity: both batches generate from the same high-water mark, so
    // rebasing the loser would commit the winner's values again
    val dir = identityTable()
    val e = intercept[IllegalStateException](racedBy(
      DeltaInterop.writeDelta(batch(100), dir, Nil))(DeltaInterop.writeDelta(batch(0), dir, Nil)))
    assert(!e.isInstanceOf[LostRace])
    assert(e.getMessage.contains("concurrent Delta commit") && e.getMessage.contains("metaData"),
      e.getMessage)
    assert(DeltaInterop.readDelta(spark, dir).select("k").as[Long].collect().sorted
      .sameElements(100L until 105L), "only the winner's rows")
    assert(dataFiles(dir) == DeltaInterop.state(spark, dir).files.map(_.path).toSet,
      "the refused append's staged files must be gone")
    DeltaInterop.writeDelta(batch(0), dir, Nil) // re-run: staged against the new head
    val ids = DeltaInterop.readDelta(spark, dir).select("row_id").as[Long].collect()
    assert(ids.length == 10 && ids.distinct.length == 10, ids.sorted.mkString(","))

    // a CHECK constraint added concurrently: the loser's rows were never
    // checked against it, and the re-run is
    val plain = Files.createTempDirectory("graft-delta-constraint-race").toString
    DeltaInterop.writeDelta(batch(0), plain, Nil)
    intercept[IllegalStateException](racedBy(
      DeltaInterop.addConstraint(spark, plain, "k_small", "k < 50"))(
      DeltaInterop.writeDelta(batch(100), plain, Nil)))
    intercept[IllegalArgumentException](DeltaInterop.writeDelta(batch(100), plain, Nil))
    assert(DeltaInterop.readDelta(spark, plain).count() == 5)

    // a winner that left the metaData alone: the append rebases
    val v = racedBy(DeltaInterop.writeDelta(batch(10), plain, Nil))(
      DeltaInterop.writeDelta(batch(20), plain, Nil))
    assert(v == DeltaInterop.latestVersion(spark, plain))
    assert(DeltaInterop.readDelta(spark, plain).count() == 15)
  }

  test("racing writeDelta appends on an identity table end with distinct identity values") {
    import spark.implicits._
    val dir = identityTable()
    val threads = 4
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val refused = new java.util.concurrent.atomic.AtomicInteger
    try {
      val done = (0 until threads).map(t => pool.submit(() => {
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
        (0 until 2).foreach { b =>
          val rows = (0 until 5).map(i => (t * 100L + b * 10 + i, s"w$t")).toDF("k", "tag")
          // a loser whose staging went stale is refused: re-run it
          def land(tries: Int): Unit =
            try DeltaInterop.writeDelta(rows, dir, Nil)
            catch {
              case e: IllegalStateException
                  if tries > 1 && e.getMessage.contains("metaData") =>
                refused.incrementAndGet(); land(tries - 1)
            }
          land(30)
        }
        t
      }))
      done.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val all = DeltaInterop.readDelta(spark, dir).select("row_id", "k").as[(Long, Long)].collect()
    assert(all.length == threads * 10, s"${all.length} rows")
    assert(all.map(_._1).distinct.length == all.length,
      s"duplicate identity values after $refused refusals")
    assert(dataFiles(dir) == DeltaInterop.state(spark, dir).files.map(_.path).toSet)
  }
}
