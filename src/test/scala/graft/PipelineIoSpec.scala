package graft

import graft.io.{FileCatalog, Mover, Readers, Writers}
import graft.ops.StarSchema
import graft.pipeline.{Pipeline, Stage}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class PipelineIoSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("mover: landing file → source + archive, original deleted, barrier check") {
    val root = Files.createTempDirectory("graft").toString
    val landing = s"$root/datasource"
    Files.createDirectories(java.nio.file.Paths.get(landing))
    Files.writeString(java.nio.file.Paths.get(s"$landing/patients.csv"), "id,name\n1,a\n")
    val mover = new Mover()
    val moved = mover.ingestAll(landing, root, "2024-01-01")
    assert(moved.size == 1)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/source/2024-01-01/patients/patients.csv")))
    assert(Files.exists(java.nio.file.Paths.get(s"$root/archive/2024-01-01/patients/patients.csv")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$landing/patients.csv")))
    assert(mover.isComplete(root, "2024-01-01", Set("patients")))
    assert(!mover.isComplete(root, "2024-01-01", Set("patients", "orders")))
  }

  test("file catalog: latest date partition discovery") {
    val root = Files.createTempDirectory("graft").toString
    for (d <- Seq("2024-01-01", "2024-02-15", "2024-02-03", "not-a-date"))
      Files.createDirectories(java.nio.file.Paths.get(s"$root/raw/$d"))
    val cat = new FileCatalog(root)
    assert(cat.latestDate("raw").contains("2024-02-15"))
    assert(cat.datePartitions("raw").size == 3)
    assert(cat.latestDate("missing-layer").isEmpty)
  }

  test("writers: single-file csv (faithful) and partitioned parquet (scale)") {
    val root = Files.createTempDirectory("graft").toString
    val df = Seq((1, "2024-01-01"), (2, "2024-01-02")).toDF("id", "load_date")
    Writers.csvSingleFile(df, s"$root/csv_out")
    val csvFiles = new java.io.File(s"$root/csv_out").listFiles().filter(_.getName.endsWith(".csv"))
    assert(csvFiles.length == 1) // coalesce(1) → exactly one data file
    Writers.parquetPartitioned(df, s"$root/pq_out", Seq("load_date"))
    assert(new java.io.File(s"$root/pq_out/load_date=2024-01-01").exists())
    val back = Readers.parquet(spark, s"$root/pq_out").filter($"load_date" === "2024-01-01")
    assert(back.count() == 1) // partition pruning path
  }

  test("dynamic partition refresh overwrites only the incoming partitions") {
    val out = Files.createTempDirectory("graft-dynpart").toString
    val day1 = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02")).toDF("id", "v", "load_date")
    Writers.parquetRefreshPartitions(day1, out, Seq("load_date"))
    // recompute day 2 only: day 1's partition must survive untouched
    val day2fix = Seq((9L, "B2", "2024-01-02")).toDF("id", "v", "load_date")
    Writers.parquetRefreshPartitions(day2fix, out, Seq("load_date"))
    val result = spark.read.parquet(out)
      // partition-column type inference reads the date string back as DATE
      .select(col("id"), col("v"), col("load_date").cast("string").as("load_date"))
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"), r.getAs[String]("load_date"))).toSet
    assert(result == Set((1L, "a", "2024-01-01"), (9L, "B2", "2024-01-02")))
    // a full-overwrite write would have dropped 2024-01-01 entirely
  }

  test("empty relation with schema (SCD2 seed)") {
    val schema = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val df = Readers.emptyWithSchema(spark, schema)
    assert(df.isEmpty && df.schema == schema)
  }

  test("pipeline: failed precondition halts the stage sequence (18-file barrier)") {
    var ran = Vector.empty[String]
    val p = Pipeline(Seq(
      Stage("a", _ => ran :+= "a"),
      Stage("b", _ => ran :+= "b", precondition = _ => false),
      Stage("c", _ => ran :+= "c")
    ))
    assert(p.run(spark) == Seq("a"))
    assert(ran == Vector("a"))
  }

  test("persistent catalog: a second SparkSession resolves fact_patient by name") {
    // The catalog implementation is fixed per JVM SparkContext (and this
    // suite's shared session is in-memory), so the persistence property is
    // proven the only honest way: two sequential JVMs on one warehouse.
    val warehouse = Files.createTempDirectory("graft-warehouse").toString
    def runPhase(mode: String): String = {
      val java = s"${System.getProperty("java.home")}/bin/java"
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar"
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val cmd = Seq(java) ++ addOpens ++ Seq(
        "-Xmx2g", "-DSPARK_GRAFT_CPUS=4",
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.CatalogSmoke", mode, warehouse)
      val out = new StringBuilder
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      scala.io.Source.fromInputStream(proc.getInputStream).getLines()
        .foreach(l => out.append(l).append('\n'))
      assert(proc.waitFor() == 0, s"CatalogSmoke $mode failed:\n$out")
      out.toString
    }
    assert(runPhase("write").contains("wrote=3"))
    // metastore files survived the first JVM's exit
    assert(new java.io.File(s"$warehouse/metastore_db").exists())
    val read = runPhase("read")
    assert(read.contains("rows=3 payers=2"), s"unexpected read output:\n$read")
  }

  test("IVF-PQ index persistence: a fresh JVM serves the published artifact bit-identically, no retrain") {
    val indexDir = Files.createTempDirectory("graft-ivfpq-idx").toString
    def runPhase(mode: String): String = {
      val java = s"${System.getProperty("java.home")}/bin/java"
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar"
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val cmd = Seq(java) ++ addOpens ++ Seq(
        "-Xmx2g", "-DSPARK_GRAFT_CPUS=4",
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.IvfPqSmoke", mode, indexDir, "/root/testdata/sf0.001")
      val out = new StringBuilder
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      scala.io.Source.fromInputStream(proc.getInputStream).getLines()
        .foreach(l => out.append(l).append('\n'))
      assert(proc.waitFor() == 0, s"IvfPqSmoke $mode failed:\n$out")
      out.toString
    }
    def resultLine(out: String): String =
      out.linesIterator.find(_.startsWith("result=")).getOrElse(fail(s"no result line:\n$out"))
    val built = runPhase("build")
    assert(built.contains("published=") && built.contains("/v1"))
    // the artifact survived the training JVM; a new JVM serves identically
    assert(new java.io.File(s"$indexDir/_CURRENT").exists())
    val served = runPhase("serve")
    val r = resultLine(built)
    assert(r.stripPrefix("result=").nonEmpty && resultLine(served) == r,
      s"fresh-JVM serve diverged:\nbuild: $r\nserve: ${resultLine(served)}")
    // republish bumps the version, pointer follows
    val rebuilt = runPhase("build")
    assert(rebuilt.contains("/v2") && resultLine(rebuilt) == r)
  }

  test("star schema: dim input cleans, fact joins dims + measures with 0-fill") {
    val staging = Seq(("p1", "alice", "nyc"), ("p1", "alice", "nyc"), ("p2", null, "sf"))
      .toDF("id", "name", "city")
    val dimIn = StarSchema.dimInput(staging, Seq("id" -> "patient_id", "name" -> "name"))
    assert(dimIn.count() == 1) // dropna removed p2, dropDuplicates removed the dup
    val base = Seq(("p1", "nyc"), ("p2", "sf")).toDF("patient_id", "city")
    val dim = Seq(("nyc", "sk-nyc")).toDF("city", "location_sk")
    val enc = Seq(("p1", 3L)).toDF("patient_id", "total_encounters")
    val fact = StarSchema.buildFact(
      base,
      lookups = Seq((dim, base("city") === dim("city"), Seq(dim("location_sk")))),
      measures = Seq((enc, Seq("patient_id")))
    )
    val rows = fact.collect().map(r =>
      (r.getAs[String]("patient_id"), r.getAs[String]("location_sk"), r.getAs[Long]("total_encounters")))
    assert(rows.contains(("p1", "sk-nyc", 3L)))
    assert(rows.contains(("p2", null, 0L))) // missing dim → null sk, missing measure → 0
  }
}
