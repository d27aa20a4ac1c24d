package graft

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.io.{DeltaInterop, IcebergInterop, IcebergWrite}
import org.scalatest.funsuite.AnyFunSuite

/** Threads racing one log version: the put-if-absent commit must let
  * exactly one writer win each race, on local storage as on HDFS. */
class LakeCommitRaceSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("DeltaInterop.commit: exactly one of T racing writers wins each version") {
    val dir = Files.createTempDirectory("graft-delta-commit-race").toString
    val threads = 4
    val races = 2000
    val barrier = new CyclicBarrier(threads)
    val wins = Array.fill(races)(new AtomicInteger)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val workers = (0 until threads).map { t =>
      new Thread(() =>
        (0 until races).foreach { v =>
          barrier.await(60, TimeUnit.SECONDS)
          try {
            DeltaInterop.commit(spark, dir, v.toLong,
              Seq(s"""{"txn":{"appId":"writer-$t","version":$v}}"""))
            wins(v).incrementAndGet()
          } catch {
            case e: IllegalStateException
              if e.getMessage.contains("concurrent Delta commit") => ()
            case e: Throwable => unexpected.add(e)
          }
        })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    assert(unexpected.isEmpty, s"unexpected failures: ${unexpected.peek()}")
    val multi = wins.count(_.get > 1)
    val none = wins.count(_.get == 0)
    assert(multi == 0 && none == 0,
      s"$multi of $races versions had more than one winner, $none had none")
    // the log holds one file per version and no leftover temp file
    val log = new java.io.File(s"$dir/_delta_log").list().toSeq
    assert(log.count(_.matches("""\d{20}\.json""")) == races)
    assert(!log.exists(_.startsWith(".tmp-commit-")))
  }

  /** Run `body(t)` on `n` threads released together; rethrows the
    * first failure. */
  private def race[A](n: Int)(body: Int => A): Seq[A] = {
    val barrier = new CyclicBarrier(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val fs = (0 until n).map(t => pool.submit(() => {
        barrier.await(60, TimeUnit.SECONDS); body(t) }))
      fs.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("writeDeltaResilient and IcebergWrite.append: racing writers all land, one per version") {
    import spark.implicits._
    def rows(t: Int, k: Int) = (0 until 5).map(i => (t * 100L + k * 10 + i, s"w$t")).toDF("id", "w")
    val delta = Files.createTempDirectory("graft-delta-writer-race").toString
    DeltaInterop.writeDelta(rows(9, 9), delta, Nil) // v0
    val dv = race(4)(t => (0 until 2).map(k =>
      DeltaInterop.writeDelta(rows(t, k), delta, Nil))).flatten
    assert(dv.sorted == (1L to 8L), s"versions $dv")
    assert(DeltaInterop.readDelta(spark, delta).count() == 45)
    // each version added exactly one writer's five rows
    (1L to 8L).foreach { v =>
      val added = DeltaInterop.readDelta(spark, delta, Some(v))
        .except(DeltaInterop.readDelta(spark, delta, Some(v - 1)))
      assert(added.count() == 5 && added.select("w").distinct().count() == 1, s"v$v")
    }

    val ice = Files.createTempDirectory("graft-iceberg-writer-race").toString
    IcebergWrite.append(rows(9, 9), ice)
    val snaps = race(4)(t => IcebergWrite.append(rows(t, 0), ice))
    assert(snaps.distinct.size == 4)
    assert(IcebergInterop.readIceberg(spark, ice).count() == 25)
    // a linear history: each racing snapshot holds one more writer's rows
    val counts = snaps.map(s => IcebergInterop.readIceberg(spark, ice, Some(s)).count())
    assert(counts.sorted == Seq(10L, 15L, 20L, 25L), counts)
  }

  test("writeDeltaResilient on a UniForm table: racing syncs leave the Iceberg mirror complete") {
    import spark.implicits._
    def rows(t: Int, k: Int) = (0 until 5).map(i => (t * 100L + k * 10 + i, s"w$t")).toDF("id", "w")
    val dir = Files.createTempDirectory("graft-uniform-writer-race").toString
    DeltaInterop.writeDelta(rows(9, 9), dir, Nil)
    DeltaInterop.enableUniform(spark, dir)
    val dv = race(4)(t => (0 until 3).map(k =>
      DeltaInterop.writeDelta(rows(t, k), dir, Nil))).flatten
    assert(dv.distinct.size == 12, s"versions $dv")
    val delta = DeltaInterop.readDelta(spark, dir)
    assert(delta.count() == 65)
    val ice = IcebergInterop.readIceberg(spark, dir)
    assert(ice.count() == delta.count())
    assert(ice.select("id").except(delta.select("id")).isEmpty)
  }
}
