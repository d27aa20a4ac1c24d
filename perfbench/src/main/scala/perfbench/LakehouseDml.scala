package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import graft.io.{DeltaInterop, IcebergInterop, IcebergWrite}
import graft.streaming.IcebergStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `lakehouse_dml`: a Delta table and an Iceberg table of Synthea claim
  * lines (`long` key, timestamp, `decimal(12,2)` amount) taken through a
  * fixed script each iteration: two appends, a MERGE upsert, a
  * deletion-vector DELETE and UPDATE, pruned range reads on the key and on
  * the amount over the deletion-vector-masked table, and a compaction. The
  * Iceberg table also takes CDC micro-batches through
  * [[IcebergStream.upsertSink]] before its reads.
  *
  * The benchmark keeps each table's expected rows in a plain map and
  * compares every read, every returned row count, and a full read after
  * the last CDC batch and after compaction. DML predicates name the key
  * only; decimal-range pruning runs in the amount read alone, so a fault
  * there fails that read and leaves the table state the later checks
  * compare untouched. */
final class LakehouseDml(spark: SparkSession, root: String, seed: Long) extends Workload {
  override val knownFaults: Map[String, String] = Map(
    "delta.read_amount" -> ("DeltaInterop.footerStats records a decimal column's unscaled " +
      "integer as its min/max, so the amount-range read prunes every file"))

  private val nBase = 3000
  private val nSecond = 1500
  private val nMergeUpdates = 350
  private val nMergeInserts = 150
  private val cdcBatches = 3
  private val cdcRows = 240
  /** Amounts lie in [20.00, 5000.00]; the amount read asks [100, 300]. */
  private val amountRange = (100.0, 300.0)

  final case class Claim(id: Long, patient: String, tsUs: Long, code: String, cents: Long) {
    def csv: String = s"$id,$patient,$tsUs,$code,${cents / 100}.${f"${cents % 100}%02d"}"
  }

  private val csvSchema = StructType(Seq(
    StructField("claim_id", LongType), StructField("patient", StringType),
    StructField("ts_us", LongType), StructField("code", StringType),
    StructField("amount", DecimalType(12, 2))))
  private val cdcSchema = csvSchema
    .add(StructField("del", BooleanType)).add(StructField("seq", LongType))
  private val valueCols = Seq("patient", "ts", "code", "amount")
  private val allCols = "claim_id" +: valueCols

  // ---- the current iteration's script ----
  private var base, second, mergeSrc = Seq.empty[Claim]
  private var cdc = Seq.empty[Seq[(Claim, Boolean, Long)]]
  private var deleteMod, updateMod = 0
  private var keyRange = (0.0, 0.0)
  private var lastFull = Seq.empty[Claim]
  private var lastModel = Seq.empty[Claim]

  private def claim(id: Long, rnd: Random): Claim =
    Claim(id, s"p${rnd.nextInt(2000)}", 1577836800000000L + (rnd.nextLong() & 0xffffffffffL),
      s"c${rnd.nextInt(300)}", 2000L + rnd.nextInt(498001))

  def prepare(iter: Int): Prepared = {
    val rnd = new Random(seed * 1000003L + iter)
    val dir = s"$root/it$iter"
    base = rnd.shuffle((1L to nBase).toList).map(claim(_, rnd))
    second = ((nBase + 1L) to (nBase + nSecond).toLong).map(claim(_, rnd))
    val existing = (base ++ second).map(_.id).toIndexedSeq
    mergeSrc = rnd.shuffle(existing).take(nMergeUpdates).map(claim(_, rnd)) ++
      ((nBase + nSecond + 1L) to (nBase + nSecond + nMergeInserts).toLong).map(claim(_, rnd))
    deleteMod = rnd.nextInt(17)
    updateMod = rnd.nextInt(13)
    val lo = 1L + rnd.nextInt(nBase - 800)
    keyRange = (lo.toDouble, (lo + 700).toDouble)
    var nextId = nBase + nSecond + nMergeInserts + 1L
    cdc = (0 until cdcBatches).map { b =>
      // ~70% updates of existing keys, 15% inserts, 15% tombstones; 30
      // keys change twice in one batch (the higher sequence must win)
      val changes = (0 until cdcRows).map { i =>
        val r = rnd.nextInt(100)
        if (r < 70) (claim(existing(rnd.nextInt(existing.size)), rnd), false)
        else if (r < 85) { nextId += 1; (claim(nextId, rnd), false) }
        else (claim(existing(rnd.nextInt(existing.size)), rnd), true)
      }
      val again = changes.take(30).map { case (c, _) => (claim(c.id, rnd), rnd.nextInt(4) == 0) }
      (changes ++ again).zipWithIndex.map { case ((c, del), i) => (c, del, b * 10000L + i) }
    }
    def write(name: String, lines: Seq[String]): Long = {
      val p = Paths.get(s"$dir/in/$name")
      Files.createDirectories(p.getParent)
      val bytes = lines.mkString("claim_id,patient,ts_us,code,amount" +
        (if (name.startsWith("cdc")) ",del,seq\n" else "\n"), "\n", "\n").getBytes(UTF_8)
      Files.write(p, bytes)
      bytes.length
    }
    // both tables load the append and merge files; only Iceberg takes CDC
    val shared = write("base.csv", base.map(_.csv)) + write("second.csv", second.map(_.csv)) +
      write("merge.csv", mergeSrc.map(_.csv))
    val cdcBytes = cdc.zipWithIndex.map { case (b, k) =>
      write(f"cdc$k%02d.csv", b.map { case (c, del, s) =>
        if (del) s"${c.id},,,,,true,$s" else s"${c.csv},false,$s" })
    }.sum
    val rows = 2L * (base.size + second.size + mergeSrc.size) + cdc.map(_.size).sum
    Prepared(dir, rows, 2 * shared + cdcBytes)
  }

  private def input(dir: String, name: String): DataFrame =
    spark.read.schema(csvSchema).option("header", "true").csv(s"$dir/in/$name")
      .select(col("claim_id"), col("patient"), timestamp_micros(col("ts_us")).as("ts"),
        col("code"), col("amount"))

  private def toClaim(r: Row): Claim = Claim(r.getLong(0), r.getString(1),
    org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(r.getTimestamp(2)),
    r.getString(3), r.getDecimal(4).movePointRight(2).longValueExact())

  private def rows(df: DataFrame): Seq[Claim] =
    df.select(allCols.map(col): _*).collect().map(toClaim).toSeq

  /** Applies the script to a model table; returns the expected count of
    * each step. */
  private final class Model {
    val rows = mutable.LinkedHashMap.empty[Long, Claim]
    def append(cs: Seq[Claim]): Unit = cs.foreach(c => rows(c.id) = c)
    def merge(cs: Seq[Claim]): (Int, Int) = {
      val (upd, ins) = cs.partition(c => rows.contains(c.id))
      append(cs)
      (upd.size, ins.size)
    }
    def delete(p: Long => Boolean): Int = {
      val ks = rows.keys.filter(p).toSeq
      ks.foreach(rows.remove)
      ks.size
    }
    def update(p: Long => Boolean): Int = {
      val ks = rows.keys.filter(p).toSeq
      ks.foreach(k => rows(k) = rows(k).copy(cents = rows(k).cents + 100))
      ks.size
    }
    def cdcBatch(b: Seq[(Claim, Boolean, Long)]): Unit =
      b.groupBy(_._1.id).values.map(_.maxBy(_._3)).foreach { case (c, del, _) =>
        if (del) rows.remove(c.id) else rows(c.id) = c
      }
    def keyRead: Seq[Claim] = rows.values.filter(c => c.id >= keyRange._1 && c.id <= keyRange._2).toSeq
    def amountRead: Seq[Claim] =
      rows.values.filter(c => c.cents >= amountRange._1 * 100 && c.cents <= amountRange._2 * 100).toSeq
  }

  private def checkFull(what: String, got: Seq[Claim], model: Model): Unit = {
    lastFull = got
    lastModel = model.rows.values.toSeq
    Check.sameRows(what, got, lastModel)
  }

  def run(rec: Recorder, in: Prepared): Unit = {
    val dir = in.dir
    val deletePred = col("claim_id") % 17 === deleteMod
    val updatePred = col("claim_id") % 13 === updateMod
    val plusOne = (col("amount") + lit(BigDecimal("1.00"))).cast(DecimalType(12, 2))
    def readOps(fmt: String, model: Model, read: Map[String, (Double, Double)] => DataFrame): Unit = {
      rec.op(s"$fmt.read_key")(rows(read(Map("claim_id" -> keyRange))))(
        Check.sameRows(s"$fmt key-range read", _, model.keyRead))
      rec.op(s"$fmt.read_amount")(rows(read(Map("amount" -> amountRange))))(
        Check.sameRows(s"$fmt amount-range read", _, model.amountRead))
    }

    // ---- Delta ----
    val d = s"$dir/delta"
    val dm = new Model
    rec.op("delta.append")(DeltaInterop.writeDelta(input(dir, "base.csv"), d, Nil)) { v =>
      dm.append(base); Check.expect(v == 0L, s"first append committed version $v") }
    rec.op("delta.append")(DeltaInterop.writeDelta(input(dir, "second.csv"), d, Nil)) { v =>
      dm.append(second); Check.expect(v == 1L, s"second append committed version $v") }
    rec.op("delta.merge")(DeltaInterop.merge(spark, d, input(dir, "merge.csv"), Seq("claim_id"))) {
      case (_, _, inserted) =>
        val (_, ins) = dm.merge(mergeSrc)
        Check.expect(inserted == ins, s"delta merge inserted $inserted rows, want $ins")
    }
    rec.op("delta.delete_dv")(DeltaInterop.deleteWhereDV(spark, d, deletePred)) { case (_, _, n) =>
      val want = dm.delete(_ % 17 == deleteMod)
      Check.expect(n == want, s"delta DV delete removed $n rows, want $want")
    }
    rec.op("delta.update_dv")(DeltaInterop.updateWhereDV(spark, d, updatePred, Map("amount" -> plusOne))) {
      case (_, _, n) =>
        val want = dm.update(_ % 13 == updateMod)
        Check.expect(n == want, s"delta DV update changed $n rows, want $want")
    }
    readOps("delta", dm, r => DeltaInterop.readDeltaWhere(spark, d, ranges = r))
    rec.op("delta.compact")(DeltaInterop.compact(spark, d))(_ =>
      checkFull("delta table after compaction", rows(DeltaInterop.readDelta(spark, d)), dm))

    // ---- Iceberg ----
    val i = s"$dir/iceberg"
    val im = new Model
    rec.op("iceberg.append")(IcebergWrite.append(input(dir, "base.csv"), i))(_ => im.append(base))
    rec.op("iceberg.append")(IcebergWrite.append(input(dir, "second.csv"), i))(_ => im.append(second))
    rec.op("iceberg.merge")(IcebergWrite.mergeInto(spark, i, input(dir, "merge.csv"), Seq("claim_id"),
      matched = Seq(DeltaInterop.MatchedClause(None, valueCols.map(c => c -> col(s"s.$c")).toMap)),
      notMatched = Some((None, allCols.map(c => c -> col(s"s.$c")).toMap)))) { case (_, upd, ins) =>
      val (wantUpd, wantIns) = im.merge(mergeSrc)
      Check.expect(upd == wantUpd && ins == wantIns,
        s"iceberg merge updated $upd and inserted $ins rows, want $wantUpd and $wantIns")
    }
    rec.op("iceberg.delete_dv")(IcebergWrite.deleteWhereDV(spark, i, deletePred)) { case (_, n) =>
      val want = im.delete(_ % 17 == deleteMod)
      Check.expect(n == want, s"iceberg DV delete removed $n rows, want $want")
    }
    rec.op("iceberg.update_dv")(IcebergWrite.updateWhereDV(spark, i, updatePred, Map("amount" -> plusOne))) {
      case (_, n) =>
        val want = im.update(_ % 13 == updateMod)
        Check.expect(n == want, s"iceberg DV update changed $n rows, want $want")
    }
    cdcOps(rec, dir, i, im)
    readOps("iceberg", im, r => IcebergInterop.readIcebergWhere(spark, i, r))
    rec.op("iceberg.compact")(IcebergWrite.compact(spark, i))(_ =>
      checkFull("iceberg table after compaction", rows(IcebergInterop.readIceberg(spark, i)), im))
  }

  /** The CDC stream: each batch file arrives in the watched directory and
    * the running upsert sink applies it as one micro-batch. */
  private def cdcOps(rec: Recorder, dir: String, table: String, model: Model): Unit = {
    val arrivals = s"$dir/cdc"
    Files.createDirectories(Paths.get(arrivals))
    val commits = new java.util.concurrent.atomic.AtomicInteger()
    val changes = spark.readStream.schema(cdcSchema).option("header", "true").csv(arrivals)
      .select(col("claim_id"), col("patient"), timestamp_micros(col("ts_us")).as("ts"),
        col("code"), col("amount"), col("del"), col("seq"))
    val q = IcebergStream.upsertSink(spark, changes, table, Seq("claim_id"), "cdc",
      s"$dir/cdc-checkpoint", sequenceCol = Some("seq"), deleteCol = Some("del"),
      postCommitHook = _ => commits.incrementAndGet())
    try cdc.indices.foreach { k =>
      rec.untimed(Files.move(Paths.get(f"$dir/in/cdc$k%02d.csv"), Paths.get(f"$arrivals/cdc$k%02d.csv"),
        StandardCopyOption.ATOMIC_MOVE))
      rec.op("iceberg.cdc_batch")(q.processAllAvailable()) { _ =>
        model.cdcBatch(cdc(k))
        Check.expect(commits.get == k + 1, s"CDC batch $k: ${commits.get} commits, want ${k + 1}")
        if (k == cdc.size - 1)
          checkFull("iceberg table after the CDC stream", rows(IcebergInterop.readIceberg(spark, table)), model)
      }
    } finally q.stop()
  }

  def selfCheck(): Seq[String] = {
    val altered = lastFull.updated(0, lastFull.head.copy(cents = lastFull.head.cents + 1))
    val dropped = lastFull.drop(1)
    Seq(
      "full read with one decimal altered by 0.01" -> Check.rejects(Check.sameRows("self", altered, lastModel)),
      "full read with one row dropped" -> Check.rejects(Check.sameRows("self", dropped, lastModel)),
    ).collect { case (what, false) => what }
  }
}
