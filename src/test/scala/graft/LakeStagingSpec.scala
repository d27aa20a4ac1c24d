package graft

import java.nio.file.Files

import graft.io.{DeltaInterop, FooterStats}
import graft.io.lake.Staging
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The staging and put-if-absent kernel both table formats write
  * through: where staged files land, what their partition values
  * decode to, what a failed write leaves behind, and who reclaims it. */
class LakeStagingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def fsOf(root: Path) = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def listed(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.sorted

  test("flat stage: every part file moves to its dest, sorted, and the staging dir goes") {
    val dir = Files.createTempDirectory("graft-stage-flat").toString
    val root = new Path(dir)
    val df = spark.range(0, 30, 1, 3).toDF("id")
    val out = Staging.stage(df, root)(p => new Path(root, f"out/${p.index}%02d-of-${p.count}.parquet"))
    assert(out.map(_.path.getName) == Seq("00-of-3.parquet", "01-of-3.parquet", "02-of-3.parquet"))
    assert(out.forall(_.values.isEmpty))
    assert(out.map(_.len) == out.map(s => fsOf(root).getFileStatus(s.path).getLen))
    assert(spark.read.parquet(s"$dir/out").as[Long].collect().sorted.toSeq == (0L until 30L))
    assert(listed(dir) == Seq("out"), "the staging dir must be gone")
  }

  test("partitioned stage decodes space, '=', '/', '%', '+' and null values") {
    val dir = Files.createTempDirectory("graft-stage-part").toString
    val root = new Path(dir)
    val values = Seq("a b", "k=v", "p/q", "50%", "x+y", null)
    val df = values.zipWithIndex.flatMap { case (v, i) => Seq((i.toLong, v), (i + 100L, v)) }
      .toDF("id", "p")
    val out = Staging.stage(df, root, Seq("p"))(p =>
      new Path(root, s"data/${p.index}-${p.name}"))
    assert(out.map(_.values.head).distinct.toSet ==
      values.map(Option(_)).toSet, out.map(_.values))
    // sorted by partition directory: a file's position never goes back
    // to an earlier partition
    val order = out.map(_.values.head)
    assert(order.distinct.size == values.size &&
      order.zip(order.tail).count { case (a, b) => a != b } == values.size - 1)
    out.foreach { s =>
      val ids = spark.read.parquet(s.path.toString).as[Long].collect().toSet
      val expect = df.filter(s.values.head.fold(col("p").isNull)(col("p") === _))
        .select("id").as[Long].collect().toSet
      assert(ids.subsetOf(expect) && ids.nonEmpty, s"${s.values} holds $ids")
    }
    assert(out.map(s => spark.read.parquet(s.path.toString).count()).sum == df.count())
    assert(listed(dir) == Seq("data"))
  }

  test("zero-record part files drop through dropEmpty on the caller's footer counts") {
    val dir = Files.createTempDirectory("graft-stage-empty").toString
    val root = new Path(dir)
    // partition 0 (ids 0-4) is empty after the filter: Spark still
    // writes its file, with no record
    val df = spark.range(0, 10, 1, 2).toDF("id").filter(col("id") >= 5)
    val out = Staging.stage(df, root)(p => new Path(root, s"data/${p.name}"))
    val conf = spark.sparkContext.hadoopConfiguration
    val records = out.map(s => s.path -> FooterStats.read(conf, s.path).records).toMap
    assert(records.values.toSeq.sorted == Seq(0L, 5L), records)
    val kept = Staging.dropEmpty(fsOf(root), out)(_.path, s => records(s.path))
    assert(kept.map(s => records(s.path)) == Seq(5L))
    assert(out.forall(s => fsOf(root).exists(s.path) == kept.contains(s)))
    // both formats commit no zero-record file
    val delta = Files.createTempDirectory("graft-stage-empty-delta").toString
    DeltaInterop.writeDelta(df, delta, Nil)
    assert(DeltaInterop.state(spark, delta).files.map(_.numRecords) == Seq(5L))
    assert(listed(delta).count(_.endsWith(".parquet")) == 1)
  }

  test("a write that fails inside dest leaves only a staging dir, which sweep reclaims") {
    val dir = Files.createTempDirectory("graft-stage-fail").toString
    val root = new Path(dir)
    val df = spark.range(0, 30, 1, 3).toDF("id")
    val e = intercept[IllegalStateException](
      Staging.stage(df, root) { p =>
        if (p.index == 1) throw new IllegalStateException("no name for you")
        new Path(root, s"data/${p.name}")
      })
    assert(e.getMessage == "no name for you")
    val left = listed(dir)
    assert(left.size == 1 && left.head.startsWith(Staging.Prefix), left)
    val f = fsOf(root)
    // young: an in-flight writer's, even at RETAIN 0
    assert(Staging.sweep(f, root, 0L) == 0)
    new java.io.File(s"$dir/${left.head}")
      .setLastModified(System.currentTimeMillis() - 2 * Staging.OrphanMinAgeMillis)
    assert(Staging.sweep(f, root, 0L) == 1)
    assert(listed(dir).isEmpty)
  }

  test("Delta vacuum reclaims an aged staging dir and keeps a fresh one; count stays data files") {
    val dir = Files.createTempDirectory("graft-stage-vacuum").toString
    DeltaInterop.writeDelta(spark.range(0, 10).toDF("id"), dir, Nil)
    def stagingDir(name: String, ageMillis: Long): java.io.File = {
      val d = new java.io.File(s"$dir/${Staging.Prefix}$name")
      d.mkdirs()
      Files.write(new java.io.File(d, "part-00000.parquet").toPath, Array[Byte](1))
      d.setLastModified(System.currentTimeMillis() - ageMillis)
      d
    }
    val aged = stagingDir("aged", 2 * Staging.OrphanMinAgeMillis)
    val fresh = stagingDir("fresh", 0L)
    assert(DeltaInterop.vacuum(spark, dir, retainMillis = 0L) == 0)
    assert(!aged.exists(), "a crashed write's aged staging dir must be reclaimed")
    assert(fresh.exists(), "a fresh staging dir must survive a RETAIN 0 vacuum")
    assert(DeltaInterop.readDelta(spark, dir).count() == 10)
  }

  test("putIfAbsent publishes once, never replaces, and leaves no temp file") {
    val dir = Files.createTempDirectory("graft-put-if-absent").toString
    val f = fsOf(new Path(dir))
    def tmpWith(body: String): Path = {
      val p = new Path(dir, s".tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(p, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      p
    }
    def read(p: Path): String = {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val target = new Path(dir, "v1.json")
    assert(Staging.putIfAbsent(f, tmpWith("first"), target))
    assert(!Staging.putIfAbsent(f, tmpWith("second"), target))
    assert(read(target) == "first")
    assert(listed(dir) == Seq("v1.json"), "temp files and their .crc must be gone")
  }
}
