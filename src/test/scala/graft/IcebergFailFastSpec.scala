package graft

import java.io.File
import java.nio.file.Files

import graft.io.{IcebergInterop, IcebergWrite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Iceberg operations that must not rebase: each reads the head it
  * replaces (a manifest set, a snapshot's statistics, a branch diff),
  * so losing its version to a concurrent commit fails the operation.
  * The loser must throw, leave the table exactly as the winner left
  * it, and leave none of its own files in `data/` or `metadata/`. The
  * winner here takes the next version just before the operation
  * commits, by copying the current metadata one version up through
  * [[IcebergWrite.onBeforeCommit]]. */
class IcebergFailFastSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val VersionRe = """^v(\d+)\.metadata\.json$""".r

  private def files(dir: String): Set[String] = {
    def walk(d: File): Seq[String] = Option(d.listFiles()).toSeq.flatten.flatMap { x =>
      if (x.isDirectory) walk(x) else Seq(x.getPath)
    }
    (walk(new File(dir, "data")) ++ walk(new File(dir, "metadata"))).toSet
  }

  private def head(dir: String): Int =
    new File(dir, "metadata").list().toSeq.flatMap(n =>
      VersionRe.findFirstMatchIn(n).map(_.group(1).toInt)).max

  private def rows(dir: String): Seq[String] =
    IcebergInterop.readIceberg(spark, dir).collect().map(_.toString).toSeq.sorted

  /** Run `op` against `dir` while a concurrent writer takes the version
    * it is about to publish, then check the loser's contract. */
  private def raced(dir: String)(op: => Any): Unit = {
    val meta = new File(dir, "metadata")
    val rowsBefore = rows(dir)
    val before = files(dir)
    var stolen = Option.empty[Int]
    IcebergWrite.onBeforeCommit = () => if (stolen.isEmpty) {
      val v = head(dir)
      Files.copy(new File(meta, s"v$v.metadata.json").toPath,
        new File(meta, s"v${v + 1}.metadata.json").toPath)
      stolen = Some(v + 1)
    }
    val e = try intercept[IllegalStateException](op)
      finally IcebergWrite.onBeforeCommit = () => ()
    assert(e.getMessage.contains("raced a concurrent commit"), e.getMessage)
    assert(stolen.isDefined, "the operation never reached its commit")
    assert(head(dir) == stolen.get, "the stolen version must stay the head")
    assert(rows(dir) == rowsBefore, "the table must read as the winner left it")
    val left = files(dir) -- before - new File(meta, s"v${stolen.get}.metadata.json").getPath
    assert(left.isEmpty, s"the losing operation left ${left.toSeq.sorted.mkString(", ")}")
  }

  private def table(name: String): String =
    Files.createTempDirectory(s"graft-iceberg-failfast-$name").toString

  private def tagged(from: Long, until: Long) =
    (from until until).map(i => (i, i % 7, s"r_$i")).toDF("id", "score", "tag")

  test("rollbackTo loses a version race: refuses, leaves nothing") {
    val dir = table("rollback")
    IcebergWrite.append(tagged(0, 10), dir)
    val first = IcebergInterop.snapshots(spark, dir)
      .orderBy("sequence_number").head().getLong(0)
    IcebergWrite.append(tagged(10, 20), dir)
    raced(dir)(IcebergWrite.rollbackTo(spark, dir, first))
  }

  test("cherryPickPublish loses a version race: refuses, leaves nothing") {
    val dir = table("cherry")
    IcebergWrite.append(tagged(0, 10), dir)
    IcebergWrite.onBranch("audit") {
      IcebergWrite.append(tagged(10, 12), dir)
    }
    IcebergWrite.append(tagged(20, 21), dir)
    raced(dir)(IcebergWrite.cherryPickPublish(spark, dir, "audit"))
  }

  test("compact loses a version race: refuses, leaves no data file or manifest") {
    val dir = table("compact")
    IcebergWrite.append(tagged(0, 80).repartitionByRange(4, col("id")), dir)
    IcebergWrite.append(tagged(80, 120).repartitionByRange(2, col("id")), dir)
    IcebergWrite.deleteWhere(spark, dir, col("id") < 15)
    // only the delete-touched file is dirty: its manifest is partially
    // dirty, so compaction rewrites it as well as writing its own
    raced(dir)(IcebergWrite.compact(spark, dir, smallFileBytes = 1L))
  }

  test("optimizeZOrder loses a version race: refuses, leaves nothing") {
    val dir = table("zorder")
    IcebergWrite.append(tagged(0, 40).repartition(3), dir)
    raced(dir)(IcebergWrite.optimizeZOrder(spark, dir, Seq("id", "score")))
  }

  test("rewriteManifests loses a version race: refuses, leaves nothing") {
    val dir = table("rewman")
    (0 until 4).foreach(k => IcebergWrite.append(tagged(k * 10L, k * 10L + 10), dir))
    raced(dir)(IcebergWrite.rewriteManifests(spark, dir))
  }

  test("rewritePositionDeletes loses a version race: refuses, leaves nothing") {
    val dir = table("rewpos")
    IcebergWrite.append(tagged(0, 40).coalesce(1), dir)
    IcebergWrite.deleteWhere(spark, dir, col("id") < 5)
    IcebergWrite.deleteWhere(spark, dir, col("id") >= 30)
    raced(dir)(IcebergWrite.rewritePositionDeletes(spark, dir))
  }

  test("enableRowLineage loses a version race: refuses, leaves nothing") {
    val dir = table("lineage")
    IcebergWrite.append(tagged(0, 10), dir)
    IcebergWrite.append(tagged(10, 20), dir)
    raced(dir)(IcebergWrite.enableRowLineage(spark, dir))
  }

  test("analyzeTable loses a version race: refuses, leaves no statistics file") {
    val dir = table("analyze")
    IcebergWrite.append(tagged(0, 30), dir)
    raced(dir)(IcebergWrite.analyzeTable(spark, dir))
  }

  test("analyzePartitions loses a version race: refuses, leaves no statistics file") {
    val dir = table("analyzeparts")
    IcebergWrite.appendPartitioned(tagged(0, 30), dir, "score")
    raced(dir)(IcebergWrite.analyzePartitions(spark, dir))
  }

  test("fastForward loses a version race: refuses, leaves nothing") {
    val dir = table("ff")
    IcebergWrite.append(tagged(0, 10), dir)
    IcebergWrite.onBranch("audit")(IcebergWrite.append(tagged(10, 12), dir))
    raced(dir)(IcebergWrite.fastForward(spark, dir, "audit"))
  }

  test("createTag and dropRef lose a version race: refuse, leave nothing") {
    val dir = table("refs")
    IcebergWrite.append(tagged(0, 10), dir)
    raced(dir)(IcebergWrite.createTag(spark, dir, "t1"))
    IcebergWrite.createTag(spark, dir, "t1")
    raced(dir)(IcebergWrite.dropRef(spark, dir, "t1"))
  }

  test("expireSnapshots loses a version race: refuses, deletes nothing") {
    val dir = table("expire")
    IcebergWrite.append(tagged(0, 10), dir)
    IcebergWrite.append(tagged(10, 20), dir)
    val before = files(dir)
    raced(dir)(IcebergWrite.expireSnapshots(spark, dir, retainMillis = 0L))
    assert(before.subsetOf(files(dir)), "a lost expiry must reclaim nothing")
  }

  test("a row-level delete commits only on the head it validated after a lost race") {
    val dir = table("recheck")
    IcebergWrite.append(tagged(0, 40).coalesce(1), dir)
    // the first attempt loses to an append (the referenced file stays
    // live: the re-check passes); the second, committing on exactly
    // that checked head, loses to a compaction that replaces the file
    var calls = 0
    lazy val hook: () => Unit = () => {
      calls += 1
      IcebergWrite.onBeforeCommit = () => ()
      if (calls == 1) IcebergWrite.append(tagged(100, 110).coalesce(1), dir)
      if (calls == 2) IcebergWrite.compact(spark, dir, smallFileBytes = Long.MaxValue)
      IcebergWrite.onBeforeCommit = hook
    }
    IcebergWrite.onBeforeCommit = hook
    val e = try intercept[IllegalStateException](
        IcebergWrite.deleteWhere(spark, dir, col("id") < 10))
      finally IcebergWrite.onBeforeCommit = () => ()
    assert(e.getMessage.contains("replaced"), e.getMessage)
    assert(calls == 2, s"$calls commit attempts")
    assert(IcebergInterop.readIceberg(spark, dir).count() == 50, "no delete applied")
    val left = files(dir).map(new File(_).getName).filter(_.startsWith("delete-"))
    assert(left.isEmpty, s"the refused delete left ${left.toSeq.sorted.mkString(", ")}")
    assert(IcebergWrite.deleteWhere(spark, dir, col("id") < 10)._2 == 10)
  }
}
