package graft

import graft.model.SchemaJson
import graft.ops.Cleaner
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class CleanerSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("T3: column names lower/trim/\\W+→_ incl. unicode (python re parity)") {
    assert(Cleaner.normalizeName(" First Name ") == "first_name")
    assert(Cleaner.normalizeName("UTILIZATION %") == "utilization_")
    assert(Cleaner.normalizeName("a.b-c") == "a_b_c")
    // ó is a word char in python's unicode \w — must survive
    assert(Cleaner.normalizeName("Córdoba City") == "córdoba_city")
  }

  test("P5: or-split creates part1/part2, keeps declared originals as part1") {
    val df = Seq(
      ("1", "Penicillin V or Amoxicillin", "keepme or dropme"),
      ("2", "plain", "alsoplain")
    ).toDF("id", "declared_col", "free_col")
    val out = Cleaner.splitMultiValue(df, declared = Set("declared_col"))
    // declared column survives as part1; free column is dropped
    assert(out.columns.toSet ==
      Set("id", "declared_col", "declared_col_part1", "declared_col_part2",
        "free_col_part1", "free_col_part2"))
    val r1 = out.filter($"id" === "1").head()
    assert(r1.getAs[String]("declared_col") == "Penicillin V")
    assert(r1.getAs[String]("declared_col_part2") == "Amoxicillin")
    assert(r1.getAs[String]("free_col_part1") == "keepme")
    // accented Ó variant triggers too
    val df2 = Seq(("1", "uno Ór dos")).toDF("id", "c")
    assert(Cleaner.splitMultiValue(df2, Set.empty).columns.contains("c_part1"))
  }

  test("P5 probe: one scan finds the same multi-value columns as an aggregate") {
    import org.apache.spark.sql.functions._
    def aggregated(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Set[String] = {
      val row = df.agg(max(col(cols.head).rlike(Cleaner.OrPattern)),
        cols.tail.map(c => max(col(c).rlike(Cleaner.OrPattern))): _*).head()
      cols.zipWithIndex.collect { case (c, i) if !row.isNullAt(i) && row.getBoolean(i) => c }.toSet
    }
    // the only match sits in the last of four partitions
    val lastPartition = spark.range(0, 400, 1, 4).select(
      when(col("id") === 399, "Penicillin or Amoxicillin").otherwise(concat(lit("v"), col("id"))).as("a"),
      concat(lit("w"), col("id")).as("b"))
    // no value at all
    val allNull = spark.range(0, 10, 1, 2).select(lit(null).cast("string").as("n"), lit("x or y").as("s"))
    // matches only once phone dashes are stripped; and the reverse, a match
    // that the trim step removes
    val cleaned = Cleaner.stripPhoneDashes(Cleaner.trimStrings(Seq(
      ("555 -or- 0100", " or tail", "keep"),
      ("5550101", "head", "keep")).toDF("phone", "note", "k")))
    Seq(lastPartition -> Set("a"), allNull -> Set("s"), cleaned -> Set("phone")).foreach {
      case (df, expected) =>
        val (hits, jobs) = Jobs.count(spark)(Cleaner.multiValueColumns(df, df.columns.toSeq))
        assert(hits == expected)
        assert(hits == aggregated(df, df.columns.toSeq))
        assert(jobs == 1)
    }
  }

  test("P6/T2: fillna None touches string cols only") {
    val df = Seq((Some("x"), Some(1)), (None, None))
      .toDF("s", "n")
    val out = Cleaner.fillNone(df)
    val r = out.filter($"s" === "None").head()
    assert(r.getAs[String]("s") == "None")
    assert(r.isNullAt(1)) // numeric null untouched
  }

  test("P7/T1: lenient cast nulls bad values; timestamps format single-H strings") {
    val schema = StructType(Seq(
      StructField("a", IntegerType), StructField("t", TimestampType)))
    val df = Seq(("12", "2021-03-04 05:06:07"), ("oops", "2021-03-04 15:06:07"))
      .toDF("a", "t")
    val out = Cleaner.castWithSchema(df, schema)
    assert(out.schema("a").dataType == IntegerType)
    assert(out.schema("t").dataType == StringType) // T1: string, not timestamp
    val vals = out.collect().map(r => (r.get(0), r.getString(1)))
    assert(vals.contains((12, "2021-03-04T5:06:07")))   // single-H hour
    assert(vals.map(_._1).contains(null))               // lenient cast → null
    assert(vals.map(_._2).contains("2021-03-04T15:06:07"))
  }

  test("full clean chain: rename → trim → phone → split → fill → cast → dedup") {
    val schema = SchemaJson.parse(
      """[{"name":"id","type":"int"},{"name":"phone_number","type":"string"}]""")
    val df = Seq(
      ("1 ", " 555-123-4567 "),
      ("1", "555-123-4567"),
      ("x", null)
    ).toDF("ID", "Phone Number")
    val out = Cleaner.clean(df, schema)
    assert(out.columns.toSeq == Seq("id", "phone_number"))
    val rows = out.collect()
    assert(rows.length == 2) // dedup collapsed the two "1" rows
    assert(rows.map(_.getAs[String]("phone_number")).toSet == Set("5551234567", "None"))
  }

  test("SchemaJson: reference type names, unknown→string, roundtrip") {
    val s = SchemaJson.parse(
      """[{"name":"a","type":"int"},{"name":"b","type":"mystery"},{"name":"c","type":"timestamp"}]""")
    assert(s.fields.map(_.dataType).toSeq == Seq(IntegerType, StringType, TimestampType))
    assert(s.fields.forall(_.nullable))
    assert(SchemaJson.parse(SchemaJson.render(s)) == s)
  }
}
