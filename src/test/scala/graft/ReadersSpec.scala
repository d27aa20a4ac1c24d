package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.io.Readers
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The metadata `Readers` resolves on the driver — a text file's first
  * line, a CSV header schema, a parquet schema — equals what Spark's own
  * inference gives, and costs no Spark job. */
class ReadersSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def dirWith(files: (String, Array[Byte])*): String = {
    val dir = Files.createTempDirectory("graft-readers")
    files.foreach { case (name, bytes) => Files.write(dir.resolve(name), bytes) }
    dir.toString
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** `ours` has Spark's schema and rows; resolving it started no job. */
  private def assertSame(ours: => DataFrame, inferred: => DataFrame, jobs: Int = 0): Unit = {
    val (df, n) = Jobs.count(spark)(ours)
    assert(n == jobs, s"resolving the read started $n jobs")
    val expected = inferred
    assert(df.schema == expected.schema)
    assert(rows(df) == rows(expected))
  }

  private val csvCases: Seq[(String, String)] = Seq(
    "duplicate and case-variant names" -> "a,b,a,A,B\n1,2,3,4,5\n6,7,8,9,10\n",
    "blank names" -> "a,,c, ,\n1,2,3,4,5\n",
    "quoted names with commas" -> "\"x,y\",\"z\"\"q\",w\n1,2,3\n\"4,5\",6,7\n",
    "CRLF line ends" -> "a,b\r\n1,2\r\n3,4\r\n",
    "blank and whitespace-only lines before the header" -> "\n   \n\t\nh1,h2\n1,2\n",
    "UTF-8 byte-order mark" -> "\uFEFFa,b\n1,2\n",
    "empty file" -> "")

  csvCases.foreach { case (what, text) =>
    test(s"csv header schema, $what: equals Spark's inference, no job") {
      val dir = dirWith("part-00000.csv" -> text.getBytes(UTF_8))
      assertSame(Readers.csv(spark, dir), spark.read.option("header", "true").csv(dir))
    }
  }

  test("csv: a Spark-written directory (_SUCCESS and .crc siblings), and the two-file fallback") {
    val out = Files.createTempDirectory("graft-readers").resolve("t").toString
    graft.io.Writers.csvSingleFile(Seq(("1", "x,y"), ("2", "z")).toDF("Id", "NAME"), out)
    assert(new java.io.File(out).list().exists(_.endsWith(".crc")))
    assertSame(Readers.csv(spark, out), spark.read.option("header", "true").csv(out))
    // two files: which one's header Spark takes is its own choice — left to it
    val two = dirWith("a.csv" -> "p,q\n1,2\n".getBytes(UTF_8), "b.csv" -> "r,s\n3,4\n".getBytes(UTF_8))
    assertSame(Readers.csv(spark, two), spark.read.option("header", "true").csv(two), jobs = 1)
  }

  test("firstLine: a text-file scan's first line without a job; other plans fall back") {
    val cases = Seq("a,b\r\nc\r\n", "\n\nx", "\uFEFFh\n1", "", "only")
    cases.foreach { text =>
      val f = Files.createTempFile("graft-first", ".csv")
      Files.write(f, text.getBytes(UTF_8))
      val expected = spark.read.textFile(f.toString).head(1).headOption
      val (line, jobs) = Jobs.count(spark)(Readers.firstLine(Readers.text(spark, f.toString)))
      assert(line == expected, s"text ${text.take(10)}")
      assert(jobs == 0)
    }
    val gz = Files.createTempFile("graft-first", ".csv.gz")
    val z = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    z.write("zipped,header\n1,2\n".getBytes(UTF_8)); z.close()
    assert(Readers.firstLine(Readers.text(spark, gz.toString)).contains("zipped,header"))
    // not a bare file scan: the Dataset's own first element
    assert(Readers.firstLine(Seq("m", "n").toDS()).contains("m"))
    val f = Files.createTempFile("graft-first", ".txt")
    Files.write(f, "skip\nkeep\n".getBytes(UTF_8))
    assert(Readers.firstLine(Readers.text(spark, f.toString).filter(_ != "skip")).contains("keep"))
  }

  private def typedFrame: DataFrame =
    spark.range(0, 40, 1, 3).select(
      col("id"),
      (col("id") * 1.25).cast("decimal(12,2)").as("amount"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("day"),
      timestamp_micros(col("id") * 3600000000L + 1700000000000000L).as("ts"),
      col("id").cast("string").cast("binary").as("raw"),
      struct(col("id").as("k"), array(col("id"), col("id") + 1).as("arr")).as("nested"),
      map(col("id").cast("string"), col("id")).as("m"),
      when(col("id") % 7 === 0, lit(null)).otherwise(concat(lit("v"), col("id"))).as("s"))

  test("parquet: decimal, date, TIMESTAMP_MICROS, binary and nested columns from one footer") {
    val dir = Files.createTempDirectory("graft-readers").resolve("t").toString
    typedFrame.write.parquet(dir)
    val names = new java.io.File(dir).list()
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(_.endsWith(".parquet")) == 3)
    assertSame(Readers.parquet(spark, dir), spark.read.parquet(dir))
  }

  test("parquet: INT96 timestamps read as Spark infers them") {
    val dir = Files.createTempDirectory("graft-readers").resolve("t").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try typedFrame.select("id", "ts").write.parquet(dir)
    finally spark.conf.set(key, before)
    assertSame(Readers.parquet(spark, dir), spark.read.parquet(dir))
  }

  test("parquet: files with different schemas — the first file by path decides, as in Spark") {
    val a = Files.createTempDirectory("graft-readers").resolve("a").toString
    val b = Files.createTempDirectory("graft-readers").resolve("b").toString
    Seq((1L, "x")).toDF("id", "left").coalesce(1).write.parquet(a)
    Seq((2L, 2.5)).toDF("id", "right").coalesce(1).write.parquet(b)
    val dir = Files.createTempDirectory("graft-readers")
    def only(d: String): Path = Files.list(Paths.get(d)).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.copy(only(b), dir.resolve("part-00001.parquet"))
    Files.copy(only(a), dir.resolve("part-00000.parquet"))
    assertSame(Readers.parquet(spark, dir.toString), spark.read.parquet(dir.toString))
  }

  test("parquet: partitioned and empty directories fall back to Spark's inference") {
    val part = Files.createTempDirectory("graft-readers").resolve("p").toString
    typedFrame.select(col("id"), (col("id") % 3).as("bucket")).write.partitionBy("bucket").parquet(part)
    assertSame(Readers.parquet(spark, part), spark.read.parquet(part), jobs = 1)
    val empty = Files.createTempDirectory("graft-readers").toString
    val ours = intercept[AnalysisException](Readers.parquet(spark, empty))
    val theirs = intercept[AnalysisException](spark.read.parquet(empty))
    assert(ours.getCondition == theirs.getCondition)
  }
}
