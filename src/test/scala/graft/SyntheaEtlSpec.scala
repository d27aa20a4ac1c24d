package graft

import graft.io.Readers
import graft.pipeline.FixedClock
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Full Synthea pipeline app: 8 mart-source fixture tables through all four
  * stages, then an incremental second run exercising the SCD2 merge against
  * the previously written dims. */
class SyntheaEtlSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def writeFixtures(landing: String, ownership: String): Unit = {
    Files.createDirectories(Paths.get(landing))
    def w(name: String, content: String): Unit =
      Files.writeString(Paths.get(s"$landing/$name.csv"), content)
    w("patients",
      """Id,BIRTHDATE,FIRST,MIDDLE,LAST,GENDER,RACE,ETHNICITY,ADDRESS,CITY,STATE,ZIP
        |p1,1980-01-02,Ann,Q,Lee,F,asian,nonhispanic,1 Main St,Boston,MA,02101
        |p2,1990-05-06,Bob,,Ray,M,white,hispanic,2 Elm St,Salem,MA,01970
        |""".stripMargin)
    w("payers", s"""Id,NAME,OWNERSHIP
                   |pay1,Acme Health,$ownership
                   |""".stripMargin)
    w("allergies",
      """START,STOP,PATIENT,DESCRIPTION,TYPE,CATEGORY
        |2020-01-01,2021-01-01,p1,Peanut allergy,allergy,food
        |""".stripMargin)
    w("medications",
      """START,STOP,PATIENT,DESCRIPTION
        |2020-02-01,2020-03-01,p1,Aspirin
        |""".stripMargin)
    w("observations",
      """DATE,PATIENT,ENCOUNTER,CATEGORY,DESCRIPTION,VALUE
        |2021-03-04T10:00:00Z,p1,e1,vital-signs,Systolic BP or Diastolic BP,120 or 80
        |""".stripMargin)
    w("encounters",
      """Id,PATIENT
        |e1,p1
        |e2,p1
        |e3,p2
        |""".stripMargin)
    w("conditions",
      """Id,PATIENT
        |c1,p1
        |""".stripMargin)
    w("payer_transitions",
      """PATIENT,PAYER
        |p1,pay1
        |""".stripMargin)
  }

  test("four stages end-to-end + incremental SCD2 second run") {
    val root = Files.createTempDirectory("graft-synthea").toString
    val landing = s"$root/datasource"

    // run 1
    writeFixtures(landing, "PRIVATE")
    val ran1 = SyntheaEtl.run(spark, landing, root, "2024-01-01",
      FixedClock("2024-01-01 00:00:00"))
    assert(ran1 == Seq("ingest", "repair", "clean", "mart"))

    val dimPatient = Readers.parquet(spark, s"$root/mart/dim_patient")
    assert(dimPatient.count() == 2)
    assert(dimPatient.filter($"patient_id" === "p1").head().getAs[String]("name") == "Ann Q Lee")

    // observation or-split flowed through staging into the dim
    val dimObs = Readers.parquet(spark, s"$root/mart/dim_observation")
    val obs = dimObs.head()
    assert(obs.getAs[String]("description_part1") == "Systolic BP")
    assert(obs.getAs[String]("value_part2") == "80")

    val fact = Readers.parquet(spark, s"$root/mart/fact_patient")
      .collect().map(r => r.getAs[String]("patient_id") ->
        (r.getAs[Long]("total_encounters"), r.getAs[Long]("total_conditions"),
          r.getAs[String]("payer_id"), r.getAs[String]("location_sk"))).toMap
    assert(fact("p1")._1 == 2 && fact("p1")._2 == 1 && fact("p1")._3 == "pay1")
    assert(fact("p2") == (1L, 0L, null, fact("p2")._4))
    assert(fact("p1")._4 != null) // location lookup hit

    // run 2: payer ownership flips → dim_payer expires old version
    writeFixtures(landing, "GOVERNMENT")
    val ran2 = SyntheaEtl.run(spark, landing, root, "2024-06-01",
      FixedClock("2024-06-01 00:00:00"))
    assert(ran2 == Seq("ingest", "repair", "clean", "mart"))

    val dimPayer = Readers.parquet(spark, s"$root/mart/dim_payer").collect()
    assert(dimPayer.length == 2)
    val active = dimPayer.find(_.getAs[Boolean]("is_active")).get
    val expired = dimPayer.find(!_.getAs[Boolean]("is_active")).get
    assert(active.getAs[String]("ownership") == "GOVERNMENT")
    assert(expired.getAs[String]("ownership") == "PRIVATE")

    // unchanged dims pass through (idempotent second run)
    val dimMed = Readers.parquet(spark, s"$root/mart/dim_medication").collect()
    assert(dimMed.length == 1 && dimMed.head.getAs[Boolean]("is_active"))
  }

  test("18-table completeness barrier blocks the pipeline when enforced") {
    val root = Files.createTempDirectory("graft-synthea-bar").toString
    val landing = s"$root/datasource"
    writeFixtures(landing, "PRIVATE")
    val ran = SyntheaEtl.run(spark, landing, root, "2024-01-01",
      FixedClock("2024-01-01 00:00:00"), requireAll = true)
    assert(ran == Seq("ingest")) // repair's precondition fails with 8 of 18 tables
  }

  test("18 tables: repair runs 1 job a table, clean 3; day 2 compiles nothing in either") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = Files.createTempDirectory("graft-synthea-jobs").toString
    val landing = s"$root/datasource"
    val tables = SyntheaEtl.ExpectedTables.size
    def day(date: String): Map[String, (Int, Long)] = {
      graft.tools.SyntheaBench.writeFixture(landing, 40)
      SyntheaEtl.stages(landing, root, date, FixedClock(s"$date 00:00:00"), requireAll = true)
        .map { st =>
          assert(st.precondition(spark), s"${st.name} precondition")
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val (_, jobs) = Jobs.count(spark)(st.run(spark))
          st.name -> (jobs, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles)
        }.toMap
    }
    val day1 = day("2024-01-01")
    assert(day1("repair")._1 <= tables, s"repair: ${day1("repair")._1} jobs")
    assert(day1("clean")._1 <= 3 * tables, s"clean: ${day1("clean")._1} jobs")
    val day2 = day("2024-01-02")
    assert(day2("repair")._1 <= tables && day2("clean")._1 <= 3 * tables)
    // the same plan shapes as day 1: every class comes from the codegen cache
    assert(day2("repair")._2 == 0, s"day 2 repair compiled ${day2("repair")._2} classes")
    assert(day2("clean")._2 == 0, s"day 2 clean compiled ${day2("clean")._2} classes")
  }

  test("SyntheaBench fixture x N drives all 18 tables through all four stages") {
    val sec = graft.tools.SyntheaBench.run(spark, nPatients = 60)
    assert(sec > 0.0)
  }
}
