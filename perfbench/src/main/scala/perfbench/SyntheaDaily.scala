package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.SyntheaEtl
import graft.io.Readers
import graft.model.SchemaJson
import graft.pipeline.FixedClock
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** `synthea_daily`: the paper's own job. Each iteration loads a
  * Synthea-shaped 18-table CSV export into an empty root (day 1, first
  * load), then an incremental export on the same root (day 2: SCD2 merge
  * and the two-phase dimension write). Every stage runs through
  * [[SyntheaEtl.stages]]; each is one operation, `d<day>.<stage>`.
  *
  * The generator plants exact duplicate lines (the clean stage drops
  * them), rows with a surplus trailing field and quoted commas (the repair
  * stage aligns them), the `x or y` multi-value shape, and on day 2 a set
  * of changed patients (new last name) plus new patients. */
final class SyntheaDaily(spark: SparkSession, root: String, seed: Long) extends Workload {
  private val nPatients = 120
  private val nChanged = nPatients / 8
  private val nAdded = nPatients / 12
  private val nPayers = 10
  private val dupEvery = 37
  private val days = Seq(1 -> "2026-01-01", 2 -> "2026-01-02")
  private val tables = SyntheaEtl.ExpectedTables.toSeq.sorted
  private val schemas: Map[String, StructType] =
    tables.map(t => t -> SchemaJson.loadResource(t).get).toMap

  /** Rows per patient of each table, roughly a real export's ratios. */
  private def rowsOf(table: String): Int = table match {
    case "patients" => nPatients
    case "payers" => nPayers
    case "encounters" => 5 * nPatients
    case "observations" => 10 * nPatients
    case "conditions" | "medications" => 3 * nPatients
    case "payer_transitions" => 2 * nPatients
    case "allergies" | "procedures" | "immunizations" | "claims" | "claims_transactions" => nPatients
    case _ => nPatients / 4
  }

  // ---- model of the current iteration ----
  /** (day, table) → rows staging must hold: generated minus planted duplicates. */
  private var expectRows = Map.empty[(Int, String), Long]
  /** day → patient id → dim_patient name. */
  private var names = Map.empty[Int, Map[String, String]]
  private var changed = Set.empty[String]
  private var lastStaging = Map.empty[String, Long]
  private var lastDim = Seq.empty[(String, Boolean, String)]

  def prepare(iter: Int): Prepared = {
    val rnd = new Random(seed * 1000003L + iter)
    val dir = s"$root/it$iter"
    val patients1 = (0 until nPatients).map(i => patientRow(s"p$i", rnd))
    changed = rnd.shuffle(patients1.indices.toList).take(nChanged).map(i => s"p$i").toSet
    val patients2 = patients1.map { p =>
      if (changed(p(0))) p.updated(lastIdx, p(lastIdx) + "x") else p
    } ++ (nPatients until nPatients + nAdded).map(i => patientRow(s"p$i", rnd))
    names = Map(1 -> patients1, 2 -> patients2).map { case (d, ps) =>
      d -> ps.map(p => p(0) -> Seq(firstIdx, middleIdx, lastIdx).map(p(_)).mkString(" ")).toMap
    }
    var rows = 0L
    var bytes = 0L
    var expect = Map.empty[(Int, String), Long]
    for ((day, _) <- days; t <- tables) {
      val ids = if (day == 1) patients1.map(_(0)) else patients2.map(_(0))
      val body =
        if (t == "patients") (if (day == 1) patients1 else patients2)
        else (0 until rowsOf(t)).map(i => genericRow(t, day, i, ids, rnd))
      val lines = body.zipWithIndex.flatMap { case (r, i) =>
        val line = csvLine(r, i)
        if (i % dupEvery == dupEvery - 1) Seq(line, line) else Seq(line)
      }
      val header = schemas(t).fields.map(f => if (f.name == "id") "Id" else f.name.toUpperCase).mkString(",")
      val text = (header +: lines).mkString("", "\n", "\n")
      val p = Paths.get(s"$dir/landing$day/$t.csv")
      Files.createDirectories(p.getParent)
      Files.write(p, text.getBytes(UTF_8))
      rows += lines.size
      bytes += text.getBytes(UTF_8).length
      expect += (day, t) -> lines.distinct.size.toLong
    }
    expectRows = expect
    Prepared(dir, rows, bytes)
  }

  private lazy val patientFields = schemas("patients").fieldNames.toIndexedSeq
  private lazy val firstIdx = patientFields.indexOf("first")
  private lazy val middleIdx = patientFields.indexOf("middle")
  private lazy val lastIdx = patientFields.indexOf("last")

  private def patientRow(id: String, rnd: Random): IndexedSeq[String] =
    schemas("patients").fields.toIndexedSeq.map { f =>
      f.name match {
        case "id" => id
        case "first" => s"Fn${rnd.nextInt(400)}"
        case "middle" => s"M${rnd.nextInt(26)}"
        case "last" => s"Ln${rnd.nextInt(900)}"
        case "gender" => if (rnd.nextBoolean()) "F" else "M"
        case "race" => Seq("white", "black", "asian", "native", "other")(rnd.nextInt(5))
        case "ethnicity" => if (rnd.nextInt(5) == 0) "hispanic" else "nonhispanic"
        case "address" => s"${rnd.nextInt(9000) + 1} Main St"
        case "city" => s"City${rnd.nextInt(40)}"
        case "state" => s"S${rnd.nextInt(20)}"
        case _ => typed(f.dataType.typeName, rnd)
      }
    }

  /** A row of a non-patient table. Its first unique column (`id`, else
    * `encounter`, else `memberid`) makes every generated row distinct, so
    * the planted duplicates are the only ones. */
  private def genericRow(t: String, day: Int, i: Int, ids: IndexedSeq[String],
                         rnd: Random): IndexedSeq[String] = {
    val names = schemas(t).fieldNames.toSet
    val unique = Seq("id", "encounter", "memberid").find(names).get
    schemas(t).fields.toIndexedSeq.map { f =>
      f.name match {
        case "id" if t == "payers" => s"pay$i"
        case n if n == unique => s"${t.take(4)}-$day-$i"
        case "patient" | "patientid" => ids(rnd.nextInt(ids.size))
        case "payer" => s"pay${rnd.nextInt(nPayers)}"
        case "description" if t == "observations" && i % 3 == 0 => "Systolic BP or Diastolic BP"
        case "value" if t == "observations" && i % 3 == 0 => s"${100 + rnd.nextInt(60)} or ${60 + rnd.nextInt(40)}"
        case "description" => s"desc ${rnd.nextInt(50)}"
        case "name" => s"Name${rnd.nextInt(300)}"
        case "ownership" => if (rnd.nextInt(3) == 0) "Government" else "Private"
        case _ => typed(f.dataType.typeName, rnd)
      }
    }
  }

  private def typed(typeName: String, rnd: Random): String = typeName match {
    case "date" => f"20${10 + rnd.nextInt(15)}%d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
    case "timestamp" =>
      f"20${10 + rnd.nextInt(15)}%d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02dT" +
        f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00Z"
    case "integer" | "long" => rnd.nextInt(99999).toString
    case "double" => s"${rnd.nextInt(9999)}.${rnd.nextInt(100)}"
    case _ => s"v${rnd.nextInt(1000)}"
  }

  /** Every 11th row quotes a field with an embedded comma; every 13th
    * carries a surplus trailing field the repair stage truncates. */
  private def csvLine(r: IndexedSeq[String], i: Int): String = {
    val q = if (i % 11 == 5) r.indexWhere(_.startsWith("v")) else -1
    val fields = r.indices.map(k => if (k == q) "\"" + r(k) + ", x\"" else r(k))
    fields.mkString(",") + (if (i % 13 == 7) ",surplus" else "")
  }

  def run(rec: Recorder, in: Prepared): Unit = {
    val dir = in.dir
    for ((day, date) <- days) {
      val stages = SyntheaEtl.stages(s"$dir/landing$day", dir, date,
        FixedClock(s"$date 00:00:00"), requireAll = true)
      for (st <- stages) {
        val outputs = st.name match {
          case "clean" => Seq(s"$dir/staging/$date")
          case "mart" => Seq(s"$dir/mart")
          case _ => Nil
        }
        rec.op(s"d$day.${st.name}", outputs) {
          if (!st.precondition(spark)) throw new IllegalStateException(s"precondition of ${st.name} failed")
          st.run(spark)
        } { _ =>
          st.name match {
            case "ingest" =>
              Check.expect(Storage.countFiles(s"$dir/source/$date") == tables.size &&
                Storage.countFiles(s"$dir/landing$day") == 0, "ingest did not move all 18 files")
            case "repair" =>
              Check.expect(tables.forall(t => Storage.countFiles(s"$dir/raw/$date/$t") > 0),
                "repair did not write every table")
            case "clean" =>
              lastStaging = tables.map(t => t -> Storage.parquetRows(s"$dir/staging/$date/$t")).toMap
              checkStaging(day, lastStaging)
            case "mart" =>
              lastDim = Readers.parquet(spark, s"$dir/mart/dim_patient")
                .select("patient_id", "is_active", "name").collect()
                .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
              checkDimPatient(day, lastDim)
          }
        }
      }
    }
  }

  private def checkStaging(day: Int, counts: Map[String, Long]): Unit =
    tables.foreach { t =>
      val want = expectRows((day, t))
      Check.expect(counts.get(t).contains(want),
        s"staging $t on day $day holds ${counts.getOrElse(t, -1L)} rows, want $want")
    }

  /** One active row per patient carrying the day's name; after day 2,
    * exactly the changed patients also have one closed old version. */
  private def checkDimPatient(day: Int, rows: Seq[(String, Boolean, String)]): Unit = {
    val active = rows.filter(_._2)
    Check.sameRows(s"active dim_patient rows after day $day",
      active.map(r => (r._1, r._3)), names(day).toSeq)
    val closed = rows.filterNot(_._2)
    val wantClosed = if (day == 1) Seq.empty else changed.toSeq.map(p => (p, names(1)(p)))
    Check.sameRows(s"closed dim_patient versions after day $day",
      closed.map(r => (r._1, r._3)), wantClosed)
  }

  def selfCheck(): Seq[String] = {
    val (day, _) = days.last
    val dropped = lastDim.patch(lastDim.indexWhere(_._2), Nil, 1)
    val short = lastStaging.updated("observations", lastStaging("observations") - 1)
    Seq(
      "dim_patient with one active row dropped" -> Check.rejects(checkDimPatient(day, dropped)),
      "staging observations one row short" -> Check.rejects(checkStaging(day, short)),
    ).collect { case (what, false) => what }
  }
}
