package graft

import graft.io.DeltaInterop
import graft.operators.{RangeJoin, TableDiff}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Lakehouse-flavored operators: bucketed range join, snapshot diff, and
  * Delta stats file skipping (composed with the z-order layout). */
class LakeOpsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("RangeJoin.bucketed equals the naive range join, and never plans a nested loop") {
    val points = (1 to 500).map(i => (i.toLong, (i * 7 % 1000).toLong)).toDF("pid", "x")
    val intervals = (1 to 80).map(i => ((i * 13 % 900).toLong, (i * 13 % 900 + 25).toLong, i.toLong))
      .toDF("lo", "hi", "iid")
    val bucketed = RangeJoin.bucketed(points, intervals, "x", "lo", "hi", bucketWidth = 32)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(intervals, col("x") >= col("lo") && col("x") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == naive)
    assert(naive.nonEmpty)
    val plan = RangeJoin.bucketed(points, intervals, "x", "lo", "hi", 32)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must not plan a nested loop:\n$plan")
    // ... which the naive formulation does — the failure mode being avoided
    val naivePlan = points.join(intervals, col("x") >= col("lo") && col("x") <= col("hi"))
      .queryExecution.executedPlan.toString
    assert(naivePlan.contains("BroadcastNestedLoopJoin") || naivePlan.contains("CartesianProduct"))
  }

  test("RangeJoin: exactly-once pairing for intervals spanning many buckets") {
    val points = Seq((1L, 50L)).toDF("pid", "x")
    val intervals = Seq((0L, 1000L, 1L)).toDF("lo", "hi", "iid") // covers 100+ buckets
    val rows = RangeJoin.bucketed(points, intervals, "x", "lo", "hi", bucketWidth = 8)
      .select("pid", "iid").collect()
    assert(rows.length == 1) // one pair, not one per covered bucket
  }

  test("TableDiff: added/removed/changed/unchanged labels") {
    val prev = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")).toDF("k", "v1", "v2")
    val next = Seq((1L, "a", "x"), (2L, "B", "y"), (4L, "d", "w")).toDF("k", "v1", "v2")
    val got = TableDiff.diff(prev, next, Seq("k"), Seq("v1", "v2"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("TableDiff works when both snapshots derive from one source (self-join)") {
    val base = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val next = base.filter(col("c_custkey") % 10 =!= 0)
    val diff = TableDiff.diff(base, next, Seq("c_custkey"), Seq("c_mktsegment"))
    val counts = diff.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("removed") == base.filter(col("c_custkey") % 10 === 0).count())
    assert(!counts.contains("added") && !counts.contains("changed"))
  }

  test("Delta skipping over a z-ordered layout: strict file subset, identical answer") {
    val dir = SparkEntry.ensureZOrderedOrders(spark, "/root/testdata/sf0.001")
    val ranges = Map("o_custkey" -> ((10.0, 40.0)), "day" -> ((1500.0, 1800.0)))
    val st = DeltaInterop.state(spark, dir)
    val kept = DeltaInterop.prunedFiles(st, ranges = ranges)
    val total = st.files.length
    assert(total > 1 && kept.nonEmpty && kept.length < total,
      s"expected a strict subset: kept ${kept.length} of $total")
    val pruned = DeltaInterop.readDeltaWhere(spark, dir, ranges = ranges)
      .filter(col("o_custkey").between(10, 40) && col("day").between(1500, 1800))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val full = DeltaInterop.readDelta(spark, dir)
      .filter(col("o_custkey").between(10, 40) && col("day").between(1500, 1800))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(pruned == full && full.nonEmpty)
  }

  test("Delta skipping: a column with no stats cannot prune (superset contract holds)") {
    val st = DeltaInterop.state(spark,
      SparkEntry.ensureZOrderedOrders(spark, "/root/testdata/sf0.001"))
    def kept(ranges: (String, (Double, Double))*) =
      DeltaInterop.prunedFiles(st, ranges = ranges.toMap).map(_.path)
    // o_totalprice is not in the layout, so no file has stats for it:
    // every file must survive — silently dropping them would violate
    // "pruning is a superset"
    assert(kept("o_totalprice" -> ((0.0, 1.0))).length == st.files.length,
      "a column without stats pruned files")
    // mixed: the column with stats still prunes, the other doesn't drop the rest
    assert(kept("o_custkey" -> ((10.0, 40.0)), "o_totalprice" -> ((0.0, 1.0))).toSet ==
      kept("o_custkey" -> ((10.0, 40.0))).toSet)
  }

  test("Delta skipping: disjoint ranges read zero files and return the schema, empty") {
    val dir = SparkEntry.ensureZOrderedOrders(spark, "/root/testdata/sf0.001")
    val ranges = Map("o_custkey" -> ((1e9, 2e9)))
    assert(DeltaInterop.prunedFiles(DeltaInterop.state(spark, dir), ranges = ranges).isEmpty)
    val df = DeltaInterop.readDeltaWhere(spark, dir, ranges = ranges)
    assert(df.columns.contains("o_orderkey") && df.count() == 0)
  }
}
