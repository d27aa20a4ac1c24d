package graft.ops

import graft.pipeline.{Clock, SystemClock}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD2 hash-diff merge (SURVEY.md §2.11; reference:
  * Patient_datamart.py:45-115).
  *
  * Spec mirrors the reference signature `scd2_merge(new_df, path, key_cols,
  * hash_cols, sk_col, table_name)`. Two explicit modes:
  *
  *   - [[Scd2.faithful]] reproduces the reference exactly, including its
  *     documented semantic traps: history rows (is_active=false) whose keys
  *     did not change in this run are DROPPED from the rewritten table;
  *     `created_at` resets whenever a row changes; the whole table is
  *     overwritten each run.
  *   - [[Scd2.idiomatic]] is the correct SCD2: all history preserved,
  *     `created_at` carried from the prior active version.
  *
  * Scale notes: the three joins all shuffle on `keyCols`; Catalyst plans one
  * exchange per side and reuses it where possible, and the changed-keys side
  * of the expire join is tiny after the diff so AQE turns it into a
  * broadcast join at runtime. The `existing` input is cached by the caller
  * when it is reused across the three joins (reference caches too,
  * Patient_datamart.py:60).
  */
object Scd2 {

  final case class Scd2Spec(
      keyCols: Seq[String],
      hashCols: Seq[String],
      skCol: String,
      table: String
  )

  /** P10 — row-content hash: sha2(concat_ws("|", cols), 256)
    * (reference: Patient_datamart.py:53). */
  def rowHash(cols: Seq[String]): Column =
    sha2(concat_ws("|", cols.map(col): _*), 256)

  private val auditCols = Seq("created_at", "modified_at", "is_active", "old_hash")

  /** Faithful merge. `existing` is the current dimension table (possibly
    * empty/absent → pass None for a first run). Returns the full rewritten
    * dimension. */
  def faithful(
      newDf: DataFrame,
      existing: Option[DataFrame],
      spec: Scd2Spec,
      clock: Clock = SystemClock
  ): DataFrame = {
    val newHashed = newDf.withColumn("hash", rowHash(spec.hashCols))
    val baseCols = newDf.columns.toSeq

    val existingDf = existing match {
      case Some(df) if !df.isEmpty => df.cache()
      case _ =>
        // First run: every new row is "changed"; seed an empty existing frame
        // with the SCD2 bookkeeping columns (reference:
        // Patient_datamart.py:89-98).
        null
    }

    if (existingDf == null) {
      return stampChanged(newHashed, spec, clock)
    }

    val active = existingDf.filter(col("is_active") === true)

    // changed = new ⟕ active ON keys WHERE hash differs or no match
    // (reference: Patient_datamart.py:68-79)
    val joinCond = spec.keyCols
      .map(k => col(s"new.$k") === col(s"old.$k"))
      .reduce(_ && _)
    val joined = newHashed.alias("new").join(
      active.select((spec.keyCols.map(col) :+ col("old_hash")): _*).alias("old"),
      joinCond,
      "left"
    )
    val changedNew = joined
      .filter(col("new.hash") =!= col("old.old_hash") || col("old.old_hash").isNull)
      .select((baseCols :+ "hash").map(c => col(s"new.$c").as(c)): _*)

    val changed = stampChanged(changedNew, spec, clock)

    // unchanged = active ⟕anti changed ON keys (reference: :82-83)
    val changedKeys = changed.select(spec.keyCols.map(col): _*)
    val unchanged = active.join(changedKeys, spec.keyCols, "left_anti")

    // expired = existing ⨝ changed-keys, flip flags (reference: :85-87).
    // NOTE the reference joins the FULL existing table here (not just
    // active), and inner-join duplicates if keys repeat — kept faithfully.
    val expired = existingDf
      .join(changedKeys, spec.keyCols.toSeq, "inner")
      .withColumn("is_active", lit(false))
      .withColumn("modified_at", clock.now)

    val outCols = (baseCols ++ Seq(spec.skCol) ++ auditCols)
    unchanged.select(outCols.map(col): _*)
      .unionByName(expired.select(outCols.map(col): _*))
      .unionByName(changed.select(outCols.map(col): _*))
  }

  /** Stamp a changed/new slice with surrogate key + audit columns
    * (reference: Patient_datamart.py:100-105). */
  private def stampChanged(dfWithHash: DataFrame, spec: Scd2Spec, clock: Clock): DataFrame = {
    val df = if (dfWithHash.columns.contains("hash")) dfWithHash
             else dfWithHash.withColumn("hash", rowHash(spec.hashCols))
    df.withColumn(spec.skCol, sha2(concat_ws("|", spec.keyCols.map(col): _*), 256))
      .withColumn("created_at", clock.now)
      .withColumn("modified_at", clock.now)
      .withColumn("is_active", lit(true))
      .withColumnRenamed("hash", "old_hash")
  }

  /** Single-shuffle merge — same output as [[faithful]] under the standard
    * SCD2 contract (at most one active existing row and one new row per
    * key; the datamart dims guarantee this via their dropDuplicates step).
    *
    * Plan shape: instead of three shuffled joins (changed ⟕, unchanged
    * anti-⨝, expire ⨝) the two inputs are unioned with a side tag and ONE
    * window over `keyCols` computes, per key, the active row's hash and the
    * incoming row's hash; every row then classifies itself:
    *
    *   - old ∧ active ∧ key unchanged      → kept as-is      (unchanged)
    *   - old ∧ key changed                 → flags flipped   (expired)
    *   - old ∧ inactive ∧ key unchanged    → dropped         (the faithful
    *     history-loss trap, reproduced deliberately — see [[faithful]])
    *   - new ∧ key changed                 → stamped         (changed)
    *   - new ∧ key unchanged               → dropped
    *
    * At scale this is the difference between one hash-partition exchange of
    * |existing| + |new| rows and three join exchanges plus re-computation
    * of the changed-keys subplan on both anti/inner sides. Union is
    * shuffle-free; the window's partitioning is the only exchange.
    */
  def singleShuffle(
      newDf: DataFrame,
      existing: Option[DataFrame],
      spec: Scd2Spec,
      clock: Clock = SystemClock
  ): DataFrame =
    mergeOnePass(newDf, existing, spec, clock, keepHistory = false)

  /** Single-shuffle variant of [[idiomatic]]: all history preserved,
    * `created_at` carried forward from the prior active version. Same
    * one-exchange plan as [[singleShuffle]]. */
  def singleShuffleIdiomatic(
      newDf: DataFrame,
      existing: Option[DataFrame],
      spec: Scd2Spec,
      clock: Clock = SystemClock
  ): DataFrame =
    mergeOnePass(newDf, existing, spec, clock, keepHistory = true)

  private def mergeOnePass(
      newDf: DataFrame,
      existing: Option[DataFrame],
      spec: Scd2Spec,
      clock: Clock,
      keepHistory: Boolean
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val existingDf = existing.filter(!_.isEmpty)
    if (existingDf.isEmpty) return stampChanged(newDf, spec, clock)
    val ex = existingDf.get

    val baseCols = newDf.columns.toSeq
    val outCols = baseCols ++ Seq(spec.skCol) ++ auditCols

    // Align both sides on outCols + hash + tag, then union (shuffle-free).
    val newSide = newDf
      .withColumn("hash", rowHash(spec.hashCols))
      .withColumn(spec.skCol, lit(null).cast("string"))
      .withColumn("created_at", lit(null).cast("timestamp"))
      .withColumn("modified_at", lit(null).cast("timestamp"))
      .withColumn("is_active", lit(null).cast("boolean"))
      .withColumn("old_hash", lit(null).cast("string"))
      .withColumn("__is_new", lit(true))
    val oldSide = ex
      .withColumn("hash", lit(null).cast("string"))
      .withColumn("__is_new", lit(false))
    val unioned = newSide.select((outCols ++ Seq("hash", "__is_new")).map(col): _*)
      .unionByName(oldSide.select((outCols ++ Seq("hash", "__is_new")).map(col): _*))

    val w = Window.partitionBy(spec.keyCols.map(col): _*)
    val activeHash = max(when(!col("__is_new") && col("is_active"), col("old_hash"))).over(w)
    val priorCreated = max(when(!col("__is_new") && col("is_active"), col("created_at"))).over(w)
    val newHash = max(when(col("__is_new"), col("hash"))).over(w)
    val hasNew = max(when(col("__is_new"), 1).otherwise(0)).over(w)

    val flagged = unioned
      .withColumn("__key_changed",
        hasNew === 1 && (activeHash.isNull || activeHash =!= newHash))
      .withColumn("__prior_created", priorCreated)

    val emit =
      if (keepHistory) col("__is_new") && col("__key_changed") || !col("__is_new")
      else col("__is_new") && col("__key_changed") ||
        (!col("__is_new") && (col("__key_changed") || col("is_active")))

    val now = clock.now
    val isNew = col("__is_new")
    val changedCreated =
      if (keepHistory) coalesce(col("__prior_created"), now) else now
    // In faithful mode every old row of a changed key expires (modified_at
    // stamped); idiomatic expires only the active version and leaves
    // history rows untouched.
    val expireThisRow =
      if (keepHistory) col("__key_changed") && col("is_active")
      else col("__key_changed")

    flagged.filter(emit).select(
      (baseCols.map(col) ++ Seq(
        when(isNew, sha2(concat_ws("|", spec.keyCols.map(col): _*), 256))
          .otherwise(col(spec.skCol)).as(spec.skCol),
        when(isNew, changedCreated).otherwise(col("created_at")).as("created_at"),
        when(isNew || expireThisRow, now).otherwise(col("modified_at")).as("modified_at"),
        when(isNew, lit(true)).otherwise(when(expireThisRow, lit(false)).otherwise(col("is_active"))).as("is_active"),
        when(isNew, col("hash")).otherwise(col("old_hash")).as("old_hash")
      )): _*)
  }

  /** Idiomatic (correct) SCD2: preserves all history, carries created_at
    * forward for changed keys, appends rather than dropping inactive rows
    * whose keys did not change. Same inputs/spec as [[faithful]]. */
  def idiomatic(
      newDf: DataFrame,
      existing: Option[DataFrame],
      spec: Scd2Spec,
      clock: Clock = SystemClock
  ): DataFrame = {
    val existingDf = existing.filter(!_.isEmpty)
    if (existingDf.isEmpty) return faithful(newDf, None, spec, clock)
    val ex = existingDf.get.cache()
    val active = ex.filter(col("is_active") === true)
    val newHashed = newDf.withColumn("hash", rowHash(spec.hashCols))
    val baseCols = newDf.columns.toSeq

    val joinCond = spec.keyCols.map(k => col(s"new.$k") === col(s"old.$k")).reduce(_ && _)
    val changedNew = newHashed.alias("new")
      .join(active.select((spec.keyCols.map(col) :+ col("old_hash")): _*).alias("old"), joinCond, "left")
      .filter(col("new.hash") =!= col("old.old_hash") || col("old.old_hash").isNull)
      .select((baseCols :+ "hash").map(c => col(s"new.$c").as(c)): _*)

    // carry created_at from the prior active version (first-seen time per
    // key survives changes — the contract faithful mode deliberately breaks)
    val priorCreated = active.select(
      (spec.keyCols.map(col) :+ col("created_at").as("__prior_created")): _*)
    val changed = stampChanged(changedNew, spec, clock)
      .join(priorCreated, spec.keyCols, "left")
      .withColumn("created_at", coalesce(col("__prior_created"), col("created_at")))
      .drop("__prior_created")
    val changedKeys = changed.select(spec.keyCols.map(col): _*)

    // Expire ONLY the active version of changed keys; keep everything else
    // (active-unchanged AND all historical rows) as-is.
    val expired = active.join(changedKeys, spec.keyCols, "left_semi")
      .withColumn("is_active", lit(false))
      .withColumn("modified_at", clock.now)
    val untouchedActive = active.join(changedKeys, spec.keyCols, "left_anti")
    val history = ex.filter(col("is_active") === false)

    val outCols = (baseCols ++ Seq(spec.skCol) ++ auditCols)
    untouchedActive.select(outCols.map(col): _*)
      .unionByName(history.select(outCols.map(col): _*))
      .unionByName(expired.select(outCols.map(col): _*))
      .unionByName(changed.select(outCols.map(col): _*))
  }

  /** Deterministic key-hash bucket used as the physical partition column of
    * a partitioned SCD2 dimension: every version of a key lives in one
    * partition, so a delta merge touches exactly the partitions its keys
    * hash to. */
  def partitionFor(spec: Scd2Spec, numPartitions: Int): Column =
    pmod(xxhash64(concat_ws("|", spec.keyCols.map(col): _*)), lit(numPartitions))
      .cast("int")

  /** Partition-pruned SCD2 merge: the incremental form of the reference's
    * rewrite-the-whole-dimension-every-run sink
    * (Patient_datamart.py:108-115), for when the daily delta touches a
    * small key subset of a large dimension.
    *
    * Layout: parquet partitioned by [[partitionFor]] (`scd2_part`). Merge:
    *   1. the delta's distinct `scd2_part` values → the touched set
    *      (≤ `numPartitions` ints to the driver);
    *   2. existing rows are read with `scd2_part IN touched` — partition
    *      pruning keeps every untouched partition's files unread;
    *   3. the one-exchange [[singleShuffleIdiomatic]] merge runs on that
    *      slice only;
    *   4. the result is written with dynamic partition overwrite
    *      ([[graft.io.Writers.parquetRefreshPartitions]]) — untouched
    *      partitions' files are never rewritten.
    *
    * At 100 TB this is the difference between rewriting
    * |touched|/numPartitions of the table and rewriting all of it —
    * with a 1-day delta hitting k of 4096 buckets, a ~k/4096 rewrite.
    * Returns the touched partition values (empty ⇒ first run, full write).
    */
  def mergePartitioned(
      newDf: DataFrame,
      tableDir: String,
      spec: Scd2Spec,
      clock: Clock = SystemClock,
      numPartitions: Int = 64
  ): Seq[Int] = {
    val spark = newDf.sparkSession
    val delta = newDf.withColumn("scd2_part", partitionFor(spec, numPartitions))
    val tablePath = new org.apache.hadoop.fs.Path(tableDir)
    val fsys = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val initialized = fsys.exists(tablePath) &&
      fsys.listStatus(tablePath).exists(_.getPath.getName.startsWith("scd2_part="))
    if (!initialized) {
      graft.io.Writers.parquetPartitioned(
        stampChanged(delta, spec, clock), tableDir, Seq("scd2_part"))
      return Seq.empty
    }
    val touched = delta.select(col("scd2_part")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val existingSlice = spark.read.parquet(tableDir)
      .filter(col("scd2_part").isin(touched: _*)) // partition-pruned scan
    val merged = singleShuffleIdiomatic(delta, Some(existingSlice), spec, clock)
    graft.io.Writers.parquetRefreshPartitions(merged, tableDir, Seq("scd2_part"))
    touched
  }
}
