package graft

import graft.ops.Scd2
import graft.ops.Scd2.Scd2Spec
import graft.pipeline.FixedClock
import org.scalatest.funsuite.AnyFunSuite

class Scd2Spec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val spec = Scd2Spec(Seq("id"), Seq("name", "city"), "sk", "dim_t")
  private val t0 = FixedClock("2024-01-01 00:00:00")
  private val t1 = FixedClock("2024-06-01 00:00:00")
  private val t2 = FixedClock("2024-12-01 00:00:00")

  private def dim(rows: (String, String, String)*) =
    rows.toDF("id", "name", "city")

  test("first run: all rows active with sk + audit columns") {
    val out = Scd2.faithful(dim(("1", "a", "x"), ("2", "b", "y")), None, spec, t0)
    assert(out.count() == 2)
    assert(out.filter($"is_active" === true).count() == 2)
    assert(out.columns.toSet ==
      Set("id", "name", "city", "sk", "created_at", "modified_at", "is_active", "old_hash"))
  }

  test("idempotence: unchanged rerun produces zero expired/new rows") {
    val v1 = Scd2.faithful(dim(("1", "a", "x")), None, spec, t0)
    val v2 = Scd2.faithful(dim(("1", "a", "x")), Some(v1), spec, t1)
    assert(v2.count() == 1)
    // created_at still t0 → row passed through unchanged
    assert(v2.head().getAs[java.sql.Timestamp]("created_at").toString.startsWith("2024-01-01"))
  }

  test("change: exactly one expired + one new active version per changed key") {
    val v1 = Scd2.faithful(dim(("1", "a", "x"), ("2", "b", "y")), None, spec, t0)
    val v2 = Scd2.faithful(dim(("1", "a", "MOVED"), ("2", "b", "y")), Some(v1), spec, t1)
    assert(v2.count() == 3)
    val k1 = v2.filter($"id" === "1").collect()
    assert(k1.length == 2)
    assert(k1.count(_.getAs[Boolean]("is_active")) == 1)
    val active = k1.find(_.getAs[Boolean]("is_active")).get
    assert(active.getAs[String]("city") == "MOVED")
    assert(active.getAs[java.sql.Timestamp]("created_at").toString.startsWith("2024-06-01"))
    val expired = k1.find(!_.getAs[Boolean]("is_active")).get
    assert(expired.getAs[String]("city") == "x")
    assert(expired.getAs[java.sql.Timestamp]("modified_at").toString.startsWith("2024-06-01"))
  }

  test("documented trap: faithful mode drops history of keys not changed this run") {
    val v1 = Scd2.faithful(dim(("1", "a", "x")), None, spec, t0)
    val v2 = Scd2.faithful(dim(("1", "a", "x2")), Some(v1), spec, t1) // key 1 now has history
    val v3 = Scd2.faithful(dim(("1", "a", "x2")), Some(v2), spec, t2) // key 1 unchanged this run
    // reference semantics: the inactive x-version vanishes (SURVEY §2.11)
    assert(v3.count() == 1)
    assert(v3.head().getAs[Boolean]("is_active"))
  }

  test("idiomatic mode preserves history and created_at") {
    val v1 = Scd2.idiomatic(dim(("1", "a", "x")), None, spec, t0)
    val v2 = Scd2.idiomatic(dim(("1", "a", "x2")), Some(v1), spec, t1)
    val v3 = Scd2.idiomatic(dim(("1", "a", "x2")), Some(v2), spec, t2)
    assert(v3.count() == 2) // history retained
    assert(v3.filter($"is_active" === false).head().getAs[String]("city") == "x")
    // created_at carried from the prior active version across the change
    val activeV2 = v2.filter($"is_active" === true).head()
    assert(activeV2.getAs[java.sql.Timestamp]("created_at").toString.startsWith("2024-01-01"))
    assert(activeV2.getAs[java.sql.Timestamp]("modified_at").toString.startsWith("2024-06-01"))
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq
  }

  test("singleShuffle merge is row-identical to the 3-join faithful merge") {
    // scenario covers: changed key, unchanged key, brand-new key, history
    // row of an unchanged key (the drop trap), history row of a changed key
    val r1 = dim(("1", "a", "x"), ("2", "b", "y"), ("3", "c", "z"))
    val v1 = Scd2.faithful(r1, None, spec, t0)
    val r2 = dim(("1", "a", "x2"), ("2", "b", "y"), ("3", "c", "z2"))
    val v2 = Scd2.faithful(r2, Some(v1), spec, t1) // keys 1,3 now have history
    val r3 = dim(("1", "a", "x3"), ("2", "b", "y"), ("4", "d", "w"))
    val expected = Scd2.faithful(r3, Some(v2), spec, t2)
    val got = Scd2.singleShuffle(r3, Some(v2), spec, t2)
    assert(canon(got) == canon(expected))
    // and the first-run path
    assert(canon(Scd2.singleShuffle(r1, None, spec, t0)) == canon(v1))
  }

  test("singleShuffleIdiomatic is row-identical to the join-based idiomatic merge") {
    val r1 = dim(("1", "a", "x"), ("2", "b", "y"))
    val v1 = Scd2.idiomatic(r1, None, spec, t0)
    val r2 = dim(("1", "a", "x2"), ("2", "b", "y"))
    val v2 = Scd2.idiomatic(r2, Some(v1), spec, t1)
    val r3 = dim(("1", "a", "x3"), ("2", "b", "y"), ("5", "e", "v"))
    val expected = Scd2.idiomatic(r3, Some(v2), spec, t2)
    val got = Scd2.singleShuffleIdiomatic(r3, Some(v2), spec, t2)
    assert(canon(got) == canon(expected))
  }

  test("singleShuffle plan has exactly one shuffle exchange") {
    val v1 = Scd2.faithful(dim(("1", "a", "x"), ("2", "b", "y")), None, spec, t0)
    val plan = Scd2.singleShuffle(dim(("1", "a", "x2")), Some(v1), spec, t1)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges in:\n$plan")
  }

  test("partition-pruned merge rewrites only the partitions the delta touches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2-part").toString
    val nParts = 8
    // 40 keys spread across the 8 hash buckets
    val run1 = (1 to 40).map(i => (s"k$i", s"name$i", "x")).toDF("id", "name", "city")
    assert(Scd2.mergePartitioned(run1, dir, spec, t0, nParts).isEmpty) // first run

    def fileState(): Map[String, Long] = {
      val base = new java.io.File(dir)
      base.listFiles().filter(_.getName.startsWith("scd2_part=")).flatMap { d =>
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${d.getName}/${f.getName}" -> f.lastModified())
      }.toMap
    }
    val before = fileState()
    assert(before.keys.map(_.split("/")(0)).toSet.size == nParts) // all buckets hit

    // 1-day delta: ONE changed key
    val touched = Scd2.mergePartitioned(
      Seq(("k7", "name7", "MOVED")).toDF("id", "name", "city"), dir, spec, t1, nParts)
    assert(touched.length == 1)
    val touchedDir = s"scd2_part=${touched.head}"

    val after = fileState()
    val (beforeUntouched, beforeTouched) = before.partition(!_._1.startsWith(touchedDir))
    val (afterUntouched, afterTouched) = after.partition(!_._1.startsWith(touchedDir))
    // untouched partitions: byte-identical file sets, mtimes included
    assert(afterUntouched == beforeUntouched)
    // the touched partition WAS rewritten
    assert(afterTouched != beforeTouched && afterTouched.nonEmpty)

    // and the merge is still a correct SCD2: k7 has expired + active versions
    val table = spark.read.parquet(dir)
    val k7 = table.filter($"id" === "k7").collect()
    assert(k7.length == 2 && k7.count(_.getAs[Boolean]("is_active")) == 1)
    assert(k7.find(_.getAs[Boolean]("is_active")).get.getAs[String]("city") == "MOVED")
    assert(table.count() == 41)
    // every key's versions live in the partition its key hashes to
    assert(table.filter($"id" === "k7").select("scd2_part").distinct().count() == 1)
  }

  test("new keys insert as active; deleted keys stay (no delete detection)") {
    val v1 = Scd2.faithful(dim(("1", "a", "x")), None, spec, t0)
    val v2 = Scd2.faithful(dim(("2", "b", "y")), Some(v1), spec, t1)
    assert(v2.filter($"id" === "2" && $"is_active" === true).count() == 1)
    assert(v2.filter($"id" === "1").count() == 1) // old key untouched-active
  }
}
