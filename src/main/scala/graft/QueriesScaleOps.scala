package graft

import graft.functions.{MinHash, SimHash, TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Curation, Dedup, Multimodal, Similarity}
import graft.ops.{Scd2, StarSchema}
import graft.pipeline.FixedClock
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-layout and corpus-stats builders (q82–q113): bucketed/z-ordered/partitioned layouts, PQ/IVF serving, TF-IDF/winnowing, profile/sketches.
  * Mixed into [[SparkEntry]]; split from the single-file registry for
  * maintainability — the `queries` map and driver contract live there.
  */
private[graft] trait QueriesScaleOps extends QueryBase {
  /** Write-once co-bucketed layout for the two fact tables, keyed by the
    * join key each is re-joined on every day (`l_orderkey`/`o_orderkey`).
    * Idempotent per (session, dir); the write is the amortized cost
    * bucketing trades for never shuffling that join again (BucketSmoke
    * measures 3.3× at ×10 replication). 32 buckets suits the bench scale —
    * at 100 TB the same layout wants O(thousands) of buckets so a bucket
    * stays executor-memory-sized. */
  def ensureBucketedLayout(s: SparkSession, dir: String): (String, String) = {
    val h = Integer.toHexString(dir.hashCode & 0x7fffffff)
    val (liT, ordT) = (s"graft_bkt_lineitem_$h", s"graft_bkt_orders_$h")
    if (!s.catalog.tableExists(liT) || !s.catalog.tableExists(ordT)) {
      val base = graft.io.TempDirs.scratch("graft-bkt")
      graft.io.Writers.bucketedTable(T(s, dir, "lineitem"), s"$base/lineitem",
        liT, Seq("l_orderkey"), 32)
      graft.io.Writers.bucketedTable(T(s, dir, "orders"), s"$base/orders",
        ordT, Seq("o_orderkey"), 32)
    }
    (liT, ordT)
  }

  /** q04's star join over the co-bucketed fact layout: the
    * lineitem⋈orders join plans with NO exchange on either side (bucketed
    * SMJ), dims still broadcast — the only shuffle left in the query is
    * the final group-by. Pinned to q04's oracle: same answer, the plan a
    * 1000-executor cluster wants for a fact-fact join run daily. */
  private[graft] def q82(s: SparkSession, dir: String): DataFrame = {
    val (liT, ordT) = ensureBucketedLayout(s, dir)
    s.table(liT)
      .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items")
      )
      .orderBy(col("r_name"))
  }

  /** D2 scale path — q08's latest-order-per-customer dedup through the
    * sort-free hash-aggregate variant (`StarSchema.dedupKeyedAgg`:
    * `max_by(row, ordering)` with map-side partial aggregation) instead of
    * Sort+Window. Pinned to q08's oracle: same survivor, different plan. */
  private[graft] def q83(s: SparkSession, dir: String): DataFrame =
    StarSchema.dedupKeyedAgg(
      T(s, dir, "orders"),
      Seq("o_custkey"),
      Seq(col("o_orderdate"), col("o_orderkey"))
    )
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"), col("o_totalprice"))
      .orderBy(col("o_custkey"))

  /** TF-IDF top-3 terms per document (raw-ratio idf — see
    * CorpusStats.tfidfTopTerms). Score is an exact int ratio in doubles,
    * so the oracle matches with no rounding. */
  private[graft] def q84(s: SparkSession, dir: String): DataFrame =
    operators.CorpusStats.tfidfTopTerms(T(s, dir, "documents"), "doc_id", "text", 3)
      .orderBy(col("doc_id"), col("term"))

  /** Gopher-style trigram repetition fraction + filter flag per document. */
  private[graft] def q85(s: SparkSession, dir: String): DataFrame =
    operators.CorpusStats.withRepetition(T(s, dir, "documents"), "text")
      .select(col("doc_id"), col("total_ngrams"), col("distinct_ngrams"),
        col("rep_frac"), (col("rep_frac") > 0.2).as("repetitive"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination: docs with doc_id % 50 == 0 stand in for the
    * eval set; every other doc reports how many distinct trigrams it shares
    * with that set (≥ 1 ⇒ contaminated — the pre-training leak filter). */
  private[graft] def q86(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    operators.CorpusStats.contaminationCounts(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** SemDeDup-style semantic dedup: trained k-means cells prune the pair
    * space (only within-cell pairs are cosine-scored — cross-cell misses
    * are the documented recall trade), exact cosine verification. The
    * oracle replays the training AND the pruning, so the whole operator is
    * hash-verified, not just the scores. k scales with the corpus
    * (ceil(√n) ⇒ Σ|cell|² ≈ n^1.5 for balanced cells, not n²/const —
    * the configuration that survives a 100× scale-up; a fixed k is
    * quadratic no matter how large the corpus grows). */
  private[graft] def q87(s: SparkSession, dir: String): DataFrame =
    // the ⌈√n⌉ sizing count runs on the SAME cached select the training
    // scans (semanticNearDupsAuto) — one source read, not two
    Similarity.semanticNearDupsAuto(T(s, dir, "embeddings"), "vec_id", "embedding",
        iters = 2, threshold = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  /** q18/q50's scenario driven through the PARTITION-PRUNED, DISK-BACKED
    * merge (`Scd2.mergePartitioned`, idiomatic semantics): run 1 seeds the
    * key-hash-partitioned table, run 2 merges the mutated snapshot, and
    * the final table is read back from parquet. Oracle = q18's SQL with
    * idiomatic created_at (carried from the prior active version instead
    * of reset) — the only observable difference on a history-free seed. */
  private[graft] def q88(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val spec = Scd2.Scd2Spec(Seq("c_custkey"), Seq("c_name", "c_mktsegment"),
      "customer_sk", "dim_customer")
    val tmp = graft.io.TempDirs.scratch("graft-q88")
    Scd2.mergePartitioned(base, tmp, spec, FixedClock("2024-01-01 00:00:00"), 16)
    val mutated = base.select(
      col("c_custkey"), col("c_name"),
      when(col("c_custkey") % 7 === 0, concat(col("c_mktsegment"), lit("_V2")))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    val newRows = base.filter(col("c_custkey") % 101 === 0).select(
      (col("c_custkey") + 1000000).as("c_custkey"),
      concat(lit("NEW "), col("c_name")).as("c_name"),
      col("c_mktsegment"))
    Scd2.mergePartitioned(mutated.unionByName(newRows), tmp, spec,
      FixedClock("2024-06-01 00:00:00"), 16)
    s.read.parquet(tmp)
      .select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"), col("customer_sk"),
        date_format(col("created_at"), "yyyy-MM-dd HH:mm:ss").as("created_at"),
        date_format(col("modified_at"), "yyyy-MM-dd HH:mm:ss").as("modified_at"),
        col("is_active"), col("old_hash"))
      .orderBy(col("c_custkey"), col("is_active"))
  }

  /** Single-pass table profile (Quality.profile) over mixed-type orders
    * columns — the Glue-crawler statistics role: counts/distincts/numeric
    * bounds per column from ONE scan. */
  private[graft] def q89(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.profile(T(s, dir, "orders"),
        Seq("o_custkey", "o_totalprice", "o_orderstatus", "o_orderdate"))
      .orderBy(col("col_name"))

  /** Product-quantization codes: per-subspace codebooks trained with the
    * deterministic k-means (m=4 subspaces, k=8 entries, 2 iterations) on
    * the unit-normalized vectors, every vector encoded as its 4 nearest-
    * entry indices. The oracle replays normalization, ALL FOUR subspace
    * trainings (one grp-keyed CTE chain) and the argmin encoding — the
    * full 32× compression path is hash-verified, not spec-trusted. */
  private[graft] def q90(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val model = graft.operators.ProductQuant.train(
      emb, "vec_id", "embedding", m = 4, k = 8, iters = 2)
    graft.operators.ProductQuant.encode(emb, "vec_id", "embedding", model)
      .select(col("id").as("vec_id"),
        array_join(col("codes").cast("array<string>"), ",").as("codes"))
      .orderBy(col("vec_id"))
  }

  /** IVF-PQ top-k serve for one query (vec_id 10): coarse k-means routing
    * (nprobe=2 of 4 cells), ADC scoring over the PQ codes of the probed
    * cells only (m LUT lookups per row, no float reads), exact cosine
    * re-rank of the 40-row shortlist. The oracle replays the coarse
    * training, the PQ training, the encoding, the driver-side LUT and the
    * two-stage ranking — the entire billion-scale ANN serving layout in
    * one hash-verified row set. */
  private[graft] def q91(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val index = graft.operators.ProductQuant.buildIvfPq(
      emb, "vec_id", "embedding", coarseK = 4, m = 4, k = 8, iters = 2)
    val qRow = emb.filter(col("vec_id") === 10).head()
    val query = qRow.getSeq[Float](qRow.fieldIndex("embedding")).toArray
    graft.operators.ProductQuant.ivfPqTopK(index, emb, "vec_id", "embedding",
        query, n = 10, nprobe = 2, shortlist = 40)
      .select(col("id").as("vec_id"), col("approx_dist"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** q18's scenario driven through STREAMING SCD2 dimension maintenance
    * (`DimStream.scd2Sink`): the seed snapshot and the mutated snapshot
    * arrive as two file-source micro-batches (the real streaming plan — a
    * parquet directory stream, a checkpoint, a foreachBatch merge), each
    * merged with its own load-date clock, and the final dim is read back
    * from disk. Oracle = q18's batch SQL — the batch twin that every other
    * streaming query in the suite is pinned to. */
  private[graft] def q92(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val spec = Scd2.Scd2Spec(Seq("c_custkey"), Seq("c_name", "c_mktsegment"),
      "customer_sk", "dim_customer")
    val tmp = graft.io.TempDirs.scratch("graft-q92")
    val updatesDir = s"$tmp/updates"
    // batch 0: the seed snapshot lands as files
    base.write.mode("append").parquet(updatesDir)
    val updates = s.readStream.schema(base.schema).parquet(updatesDir)
    val clocks = Map(
      0L -> FixedClock("2024-01-01 00:00:00"),
      1L -> FixedClock("2024-06-01 00:00:00"))
    val q = graft.streaming.DimStream.scd2Sink(s, updates, spec,
      s"$tmp/dim", s"$tmp/ckpt", clocks(_))
    q.processAllAvailable()
    // batch 1: the mutated snapshot (changed segments + brand-new keys)
    val mutated = base.select(
      col("c_custkey"), col("c_name"),
      when(col("c_custkey") % 7 === 0, concat(col("c_mktsegment"), lit("_V2")))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    val newRows = base.filter(col("c_custkey") % 101 === 0).select(
      (col("c_custkey") + 1000000).as("c_custkey"),
      concat(lit("NEW "), col("c_name")).as("c_name"),
      col("c_mktsegment"))
    mutated.unionByName(newRows).write.mode("append").parquet(updatesDir)
    q.processAllAvailable()
    q.stop()
    graft.streaming.DimStream.readDim(s, s"$tmp/dim")
      .select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"), col("customer_sk"),
        date_format(col("created_at"), "yyyy-MM-dd HH:mm:ss").as("created_at"),
        date_format(col("modified_at"), "yyyy-MM-dd HH:mm:ss").as("modified_at"),
        col("is_active"), col("old_hash"))
      .orderBy(col("c_custkey"), col("is_active"))
  }

  /** Document chunking into overlapping token windows (width 64, stride
    * 48 — 16-token overlap) — the RAG / long-context pre-tokenization
    * layout. Pure per-row work: one Generate, no shuffle (scan speed at
    * any corpus size). */
  private[graft] def q93(s: SparkSession, dir: String): DataFrame =
    operators.Chunker.chunk(T(s, dir, "documents"), "doc_id", "text",
        width = 64, stride = 48)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Greedy sequence packing into 400-token budgets across 8
    * content-addressed packer groups. The oracle replays the greedy fill
    * with a recursive CTE — the pack boundary is a non-associative
    * recurrence, which is exactly why the Spark side is a sorted
    * mapPartitions scan and not a window function. */
  private[graft] def q94(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), TF.tokenCount(col("text")).as("n_toks"))
    operators.Packer.packGreedy(docs, "doc_id", "n_toks", budget = 400, numGroups = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM quality score per document (mean token ln-probability
    * under the corpus's own add-one-smoothed unigram model) — the cheap
    * stand-in for CCNet-style perplexity filtering. Rounded to 2 dp per
    * the shuffled-aggregate float policy. */
  private[graft] def q95(s: SparkSession, dir: String): DataFrame =
    operators.CorpusStats.unigramLogProb(T(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Winnowing fingerprints (5-gram hashes, window 4, rightmost-min tie
    * rule) — the MOSS partial-overlap detector; any ≥8-token shared
    * substring between two documents is guaranteed a common fingerprint. */
  private[graft] def q96(s: SparkSession, dir: String): DataFrame =
    operators.CorpusStats.winnowFingerprints(T(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4)
      .orderBy(col("doc_id"), col("pos"), col("fp"))

  /** Z-order (Morton) value over (customer, order-day) — the layout key
    * that makes parquet min/max stats prune scans on EITHER dimension.
    * Pure per-row bit arithmetic; the layout writer itself
    * (ZOrder.writeZOrdered) is exercised in ZOrderSpec, where the
    * per-file bounding boxes are asserted. */
  private[graft] def q97(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders").select(col("o_orderkey"),
        graft.functions.ZOrder.zValue(
          col("o_custkey"),
          datediff(col("o_orderdate").cast("date"), to_date(lit("1992-01-01"))),
          16).as("zval"))
      .orderBy(col("o_orderkey"))

  /** The residual IVF-PQ index is write-once serving infrastructure —
    * like q82's bucketed layout, it is built ONCE per (session, dir) and
    * amortized over every query served against it (a production ANN
    * service trains offline and serves millions of queries). The encoded
    * relation is cached: it is the serving working set (cells + m byte
    * codes per vector — the 32×-compressed form that replaces the floats
    * at query time). */
  private[graft] val resIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.ProductQuant.IvfPqResidualIndex]
  def ensureResidualIndex(s: SparkSession, dir: String): graft.operators.ProductQuant.IvfPqResidualIndex =
    resIndexCache.getOrElseUpdate(dir, {
      val idx = graft.operators.ProductQuant.buildIvfPqResidual(
        T(s, dir, "embeddings"), "vec_id", "embedding",
        coarseK = 4, m = 4, k = 8, iters = 2)
      val served = idx.copy(encoded = idx.encoded.cache())
      served.encoded.count() // materialize the serving working set
      served
    })

  /** Residual IVF-PQ top-k serve (codes quantize v − coarse centroid —
    * the classic recall refinement over q91's direct quantization; same
    * deterministic trainings, so the oracle replays coarse routing,
    * residual computation, all four residual codebooks, the per-cell
    * LUTs and the exact re-rank). */
  private[graft] def q98(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val index = ensureResidualIndex(s, dir)
    val qRow = emb.filter(col("vec_id") === 11).head()
    val query = qRow.getSeq[Float](qRow.fieldIndex("embedding")).toArray
    graft.operators.ProductQuant.ivfPqResidualTopK(index, emb, "vec_id", "embedding",
        query, n = 10, nprobe = 2, shortlist = 40)
      .select(col("id").as("vec_id"), col("approx_dist"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** Filtered vector search: q38's IVF layout under a metadata predicate
    * (labels 0–4 only). The filter sits BELOW cell assignment — it
    * reaches the parquet scan as a PUSHED filter (plan-asserted in
    * ScaleOpsSpec), then cell routing prunes what survives: the two
    * prunings compose, which is the whole point of a scan-shaped ANN
    * index (graph indexes can't do this cheaply). */
  private[graft] def q99(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 15)
    Similarity.ivfTopKWhere(emb, queries, centroids, "vec_id", "embedding",
        k = 3, nprobe = 2, pred = col("label") < 5)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Streaming exact dedup: every event arrives TWICE (two parquet copies
    * in the source directory); `dropDuplicates` over the watermarked
    * stream must reconstruct the original table exactly. The watermark is
    * set beyond the data's time range so no state is evicted mid-drain —
    * bounded-input determinism, the same contract as the other streaming
    * oracle rows. */
  private[graft] def q100(s: SparkSession, dir: String): DataFrame = {
    val events = graft.io.Readers.parquetNanos(s, s"$dir/events.parquet", Seq("ts"))
    val tmp = graft.io.TempDirs.scratch("graft-q100")
    events.write.mode("append").parquet(tmp)
    events.write.mode("append").parquet(tmp)
    val stream = s.readStream.schema(events.schema).parquet(tmp)
    val deduped = graft.streaming.EventStream.dedupEvents(stream, watermark = "36500 days")
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value"))
    graft.streaming.EventStream.runBounded(s, deduped, "graft_q100_sink", "append")
      .orderBy(col("event_id"))
  }

  /** Pure range join (no equality key) through the bucketed equi-join
    * rewrite: each click counts the 10-minute purchase windows covering
    * it. The naive formulation is a BroadcastNestedLoopJoin —
    * |clicks|·|windows| comparisons; the bucketed plan hashes like any
    * equi-join (ScaleOpsSpec asserts no BNLJ/cartesian in the plan). */
  private[graft] def q101(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select((unix_micros(col("ts")) - 600000000L).as("lo"),
        unix_micros(col("ts")).as("hi"))
    operators.RangeJoin.bucketed(clicks, windows, "us", "lo", "hi",
        bucketWidth = 600000000L)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_windows"))
      .orderBy(col("event_id"))
  }

  /** Snapshot diff: q18's mutation scenario plus removals (every 13th
    * key dropped), classified added/removed/changed/unchanged by
    * TableDiff — one hash-reduced full outer join, payloads never
    * shuffle. The oracle derives the labels analytically from the
    * mutation rules. */
  private[graft] def q102(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val next = base.filter(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 7 === 0, concat(col("c_mktsegment"), lit("_V2")))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      .unionByName(base.filter(col("c_custkey") % 101 === 0).select(
        (col("c_custkey") + 1000000).as("c_custkey"),
        concat(lit("NEW "), col("c_name")).as("c_name"),
        col("c_mktsegment")))
    operators.TableDiff.diff(base, next, Seq("c_custkey"), Seq("c_name", "c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** The z-ordered orders layout as a Delta table: write-once
    * infrastructure (like the bucketed tables and the ANN index) —
    * z-order on the scaled (customer, order-day) pair, then convert the
    * 16 files in place, so the log's per-file min/max of the RAW
    * dimensions come from the parquet footers, with no scan job. */
  private[graft] val zoneLayoutCache = scala.collection.concurrent.TrieMap.empty[String, String]
  def ensureZOrderedOrders(s: SparkSession, dir: String): String =
    zoneLayoutCache.getOrElseUpdate(dir, {
      val path = graft.io.TempDirs.scratch("graft-zorder-delta")
      val raw = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), to_date(lit("1992-01-01"))).as("day"))
      val mx = raw.agg(max("o_custkey").cast("double"), max("day").cast("double")).head()
      val scaled = raw
        .withColumn("__xs", floor(col("o_custkey") * 255 / mx.getDouble(0)))
        .withColumn("__ys", floor(col("day") * 255 / mx.getDouble(1)))
      graft.functions.ZOrder.writeZOrdered(scaled, "__xs", "__ys", path,
        numFiles = 16, bits = 8)
      graft.io.DeltaInterop.convertToDelta(s, path)
      path
    })

  /** Stats-based file skipping over the z-ordered layout: the range
    * query plans against only the files whose Delta log bounds overlap
    * BOTH predicates (the spec asserts a strict subset is read), then
    * applies the exact filter — same answer as the full scan, which is
    * exactly what the oracle checks. */
  private[graft] def q103(s: SparkSession, dir: String): DataFrame = {
    val path = ensureZOrderedOrders(s, dir)
    graft.io.DeltaInterop.readDeltaWhere(s, path,
        ranges = Map("o_custkey" -> ((100.0, 300.0)), "day" -> ((1500.0, 1800.0))))
      .filter(col("o_custkey").between(100, 300) && col("day").between(1500, 1800))
      .select(col("o_orderkey"), col("o_custkey"), col("day"))
      .orderBy(col("o_orderkey"))
  }

  /** Exact heavy hitters per column (skew detector) — one stacked pass,
    * per-column top-5 by frequency with value tie-break. */
  private[graft] def q104(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.heavyHitters(T(s, dir, "orders"),
        Seq("o_custkey", "o_orderpriority", "o_orderstatus"), k = 5)
      .orderBy(col("col_name"), col("rank"))

  /** Fixed-bound equi-width histogram of order totals: 12 × 50k bins,
    * pure per-row binning + one grouped count. */
  private[graft] def q105(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.histogram(T(s, dir, "orders"), "o_totalprice",
        nBins = 12, lo = 0.0, hi = 600000.0)
      .orderBy(col("bin"))

  /** Mergeable distinct-count state: per-(type, day) HLL sketches union
    * into per-type estimates — the sketch algebra that lets 100 TB of
    * daily partials fold into weekly/monthly answers WITHOUT re-reading
    * events (same mergeability story as the q76 MinHash sketches, on
    * Spark's built-in DataSketches HLL). Gate: estimate within 5% of the
    * same-pass exact distinct (q45's in-tolerance-boolean oracle style —
    * sketch values are approximate by nature). */
  private[graft] def q106(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"), count(lit(1)).as("n_events"))
    exact.join(merged, "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("est") - col("exact_users")) <= col("exact_users") * 0.05).as("est_ok"),
        col("n_events"))
      .orderBy(col("event_type"))
  }

  /** Incremental maintenance of the STAR-JOIN aggregate (q04's
    * revenue-per-region): seed state from 90% of lineitems, fold the
    * remaining 10% in as a delta — the materialized-view refresh that
    * touches one day of data instead of all history. Must land q04's
    * exact answer (its oracle), the same alternative-strategy pinning as
    * q82/q83. */
  private[graft] def q107(s: SparkSession, dir: String): DataFrame = {
    def enriched(li: DataFrame): DataFrame = li
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val li = T(s, dir, "lineitem")
    val seed = graft.ops.IncrementalAgg.build(
      enriched(li.filter(col("l_orderkey") % 10 =!= 0)), Seq("r_name"), Seq("rev"))
    graft.ops.IncrementalAgg.merge(seed,
        enriched(li.filter(col("l_orderkey") % 10 === 0)), Seq("r_name"), Seq("rev"))
      .select(col("r_name"), round(col("sum_rev"), 2).as("revenue"),
        col("n_rows").as("n_items"))
      .orderBy(col("r_name"))
  }

  /** Cross-source overlap MATRIX from winnowing fingerprints: distinct
    * (source, fingerprint) pairs self-joined on the fingerprint — counts
    * of shared local fingerprints per source pair. This sees PARTIAL
    * overlap (a paragraph copied between corpora) that the q76 MinHash
    * sketches cannot: MinHash estimates whole-set Jaccard, winnowing
    * localizes matches to any ≥ w+k−1-token run. */
  private[graft] def q108(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val fps = operators.CorpusStats.winnowFingerprints(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("fp")).distinct()
    fps.alias("a")
      .join(fps.alias("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Quality-weighted corpus sampling: keep each document with
    * probability = its quality score, decided content-addressed (no RNG —
    * the same doc survives identically across runs/partitionings). The
    * oracle replays the quality formula and the 16-bit hash threshold. */
  private[graft] def q109(s: SparkSession, dir: String): DataFrame =
    Curation.weightedSample(
        T(s, dir, "documents").withColumn("quality", TF.qualityScore(col("text"))),
        "doc_id", "quality")
      .select(col("doc_id"), col("quality"))
      .orderBy(col("doc_id"))

  /** STREAMING materialized-view maintenance: q74's per-customer order
    * aggregate kept current by folding micro-batches of raw orders into
    * the persisted state (AggStream.incrementalSink — foreachBatch +
    * monoid merge). Two delta batches arrive as files; the final state
    * must equal the one-shot batch aggregate (q74's oracle), proving the
    * fold is batch-boundary-insensitive. */
  private[graft] def q110(s: SparkSession, dir: String): DataFrame = {
    val orders = T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val tmp = graft.io.TempDirs.scratch("graft-q110")
    val updatesDir = s"$tmp/updates"
    orders.filter(col("o_orderkey") % 10 =!= 0).write.mode("append").parquet(updatesDir)
    val stream = s.readStream.schema(orders.schema).parquet(updatesDir)
    val q = graft.streaming.AggStream.incrementalSink(s, stream,
      Seq("o_custkey"), Seq("o_totalprice"), s"$tmp/state", s"$tmp/ckpt")
    q.processAllAvailable()
    orders.filter(col("o_orderkey") % 10 === 0).write.mode("append").parquet(updatesDir)
    q.processAllAvailable()
    q.stop()
    graft.streaming.AggStream.readState(s, s"$tmp/state")
      .select(col("o_custkey"), col("n_rows").as("n_orders"),
        round(col("sum_o_totalprice"), 2).as("sum_price"))
      .orderBy(col("o_custkey"))
  }

  /** q94's packs with the trainer-facing LAYOUT: per-document token
    * offsets within each pack (windowed cumsum keyed by pack — the
    * attention-mask boundary table). */
  private[graft] def q111(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), TF.tokenCount(col("text")).as("n_toks"))
    operators.Packer.withOffsets(
        operators.Packer.packGreedy(docs, "doc_id", "n_toks", budget = 400, numGroups = 8))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Three-dimensional Morton code over (customer, order-day,
    * price-bucket) — the multi-attribute layout key (16-file tiles
    * narrow on ALL THREE predicates' dimensions). Oracle replays the
    * 3-way bit interleave. */
  private[graft] def q112(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders").select(col("o_orderkey"),
        graft.functions.ZOrder.zValueN(Seq(
          col("o_custkey"),
          datediff(col("o_orderdate").cast("date"), to_date(lit("1992-01-01"))),
          floor(col("o_totalprice") / 10000.0)), bits = 16).as("zval"))
      .orderBy(col("o_orderkey"))

  /** The `binaryFile` source — raw media/object ingestion into binary
    * columns (the entry point of the multimodal path: files land as
    * (path, length, content) rows with no decode). Each document's text
    * is written out as one file named by its id, read back through the
    * source, and must reproduce exact ids and byte lengths.
    *
    * The fixture write is DISTRIBUTED: executors write one object per
    * row through the Hadoop FS API inside foreachPartition — no row data
    * ever collects to the driver (at cluster scale the base path is the
    * shared store and this IS the object-ingestion write pattern; the
    * text datasource can't serve here because it appends a newline per
    * row, breaking exact byte lengths). */
  private[graft] def q113(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.io.TempDirs.scratch("graft-q113")
    T(s, dir, "documents").select(col("doc_id"), col("text"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val base = new org.apache.hadoop.fs.Path(s"file:$tmp")
        val fs = base.getFileSystem(conf)
        it.foreach { r =>
          val out = fs.create(new org.apache.hadoop.fs.Path(base, s"${r.getLong(0)}.bin"), true)
          try out.write(r.getString(1).getBytes("UTF-8"))
          finally out.close()
        }
      }
    s.read.format("binaryFile").load(tmp)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
        col("length").as("byte_len"),
        length(col("content")).cast("long").as("content_len"))
      .orderBy(col("doc_id"))
  }

  /** q38's IVF top-k through the BROADCAST centroid path (threshold 0):
    * cell assignment runs the broadcast-variable argmin expression instead
    * of the k-literal tree — the k·dim scale path, pinned to q38's oracle
    * (bit-identical cells and scores or the hash breaks). */
  private[graft] def q132(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 15)
    Similarity.ivfTopK(emb, queries, centroids, "vec_id", "embedding",
        k = 3, nprobe = 2, broadcastThreshold = 0)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q68's k-means training through the BROADCAST path (threshold 0):
    * per-iteration assignment via the broadcast argmin expression AND the
    * grouped means via the dense treeAggregate fold — q68's oracle replays
    * the identical training, so both scale mechanisms are hash-gated. */
  private[graft] def q133(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(T(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 2, broadcastThreshold = 0)
      .select(col("id").as("vec_id"), col("cell"))
      .orderBy(col("vec_id"))

  /** q87's SemDeDup through the BROADCAST path (threshold 0) — training,
    * assignment, and within-cell scoring all on the scale mechanisms,
    * pinned to q87's oracle. */
  private[graft] def q134(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticNearDupsAuto(T(s, dir, "embeddings"), "vec_id", "embedding",
        iters = 2, threshold = 0.4, broadcastThreshold = 0)
      .orderBy(col("id_a"), col("id_b"))

  /** One NB language-model training per sf dir, shared by q135/q136/q139
    * — training is deterministic, so the share is pure memoization (the
    * ensureBpe pattern: train once, serve everywhere). */
  private[graft] val nbLangCache =
    scala.collection.concurrent.TrieMap.empty[String, operators.LangModel.NbLangModel]
  private[graft] def ensureNbLang(s: SparkSession, dir: String): operators.LangModel.NbLangModel =
    nbLangCache.getOrElseUpdate(dir,
      operators.LangModel.train(T(s, dir, "documents"), "text", "lang"))

  /** TRAINED char-trigram Naive Bayes language ID: the model-based
    * upgrade of q25's fixed regex heuristic. Trains on the corpus's own
    * labels, classifies the same corpus; the oracle replays the ENTIRE
    * training (per-label gram counts, totals, vocab, priors) and every
    * document's add-one-smoothed argmax — the BPE/k-means treatment
    * applied to a classifier. */
  private[graft] def q135(s: SparkSession, dir: String): DataFrame =
    operators.LangModel.predict(T(s, dir, "documents"), "doc_id", "text",
        ensureNbLang(s, dir))
      .select(col("id").as("doc_id"), col("pred_lang"), col("score"))
      .orderBy(col("doc_id"))

  /** FEATURE-HASHED NB (q135 through 2^12 md5 buckets): model memory is
    * bounded by the bucket space at ANY n-gram order — the hashing-trick
    * answer to charsetⁿ vocab growth, with the collision trade made
    * visible by the oracle replaying the bucketed training exactly. */
  private[graft] def q141(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val model = operators.LangModel.trainHashed(docs, "text", "lang", hashBits = 12)
    operators.LangModel.predict(docs, "doc_id", "text", model)
      .select(col("id").as("doc_id"), col("pred_lang"), col("score"))
      .orderBy(col("doc_id"))
  }

  /** The q71-style curation capstone driven by the TRAINED classifier:
    * keep documents whose NB-predicted language agrees with the label and
    * whose quality clears the bar, then split deterministically — the
    * production shape (model-scored curation), with the model's training
    * inside the replayed query. */
  private[graft] def q136(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pred = operators.LangModel.predict(docs, "doc_id", "text", ensureNbLang(s, dir))
      .select(col("id").as("doc_id"), col("pred_lang"), col("score"))
    val scored = docs.withColumn("quality", TF.qualityScore(col("text")))
    // plain equality is safe here: classify's outputs sit behind
    // graft.functions.Fence, so the inferred IsNotNull(pred_lang) can no
    // longer inline the NbScores fold below the projections (the 16 s vs
    // 1.4 s trap this query first hit — now closed at the operator
    // boundary for every consumer, not per call site).
    Curation.hashSplit(scored.join(pred, "doc_id"), "doc_id")
      .filter(col("pred_lang") === col("lang") && col("quality") >= 0.55)
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("score"),
        col("quality"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Audio/video metadata extraction through REAL RIFF header parsing:
    * every document synthesizes a WAV payload (PCM header math from
    * doc_id, data = the UTF-8 text bytes) and an AVI payload (avih main
    * header), and the codecs must recover sample counts, durations,
    * dimensions and frame counts from the BYTES. The oracle derives the
    * same values analytically from the generation rule (q102's
    * labels-from-mutation-rules pattern) — the parse must invert the
    * encode exactly or the hash breaks. */
  private[graft] def q137(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
    val wav = docs.map { case (id, text) =>
      val data = text.getBytes("UTF-8")
      (id, Multimodal.WavCodec.encodePcm(
        8000 + (id % 8).toInt * 1000, 1 + (id % 2).toInt, 16, data),
        "audio/wav")
    }.toDF("media_id", "bytes", "mime")
    val avi = docs.map { case (id, text) =>
      val data = text.getBytes("UTF-8")
      (id, Multimodal.AviCodec.encode(
        320 + (id % 4).toInt * 80, 240 + (id % 3).toInt * 80,
        1 + data.length % 240, 40000, data),
        "video/avi")
    }.toDF("media_id", "bytes", "mime")
    Multimodal.extractAudioMeta(s, wav).toDF()
      .join(Multimodal.extractVideoMeta(s, avi).toDF(), "media_id")
      .select(col("media_id").as("doc_id"), col("sample_rate"), col("channels"),
        col("n_samples"), col("duration_ms"), col("width"), col("height"),
        col("n_frames"), col("video_ms"))
      .orderBy(col("doc_id"))
  }

  /** REAL PCM sample decode (q137's header-parse taken down to the
    * sample level): mono 16-bit payloads are SYNTHESIZED from
    * (doc_id, text-length) by a fixed rule, encoded through
    * [[Multimodal.WavCodec.encodeSamples]], and decoded back through the
    * in-JDK `javax.sound.sampled` pipeline
    * ([[Multimodal.extractAudioStats]]). The oracle recomputes every
    * integer statistic (count, sum, peak, endpoints) analytically from
    * the same rule — decode must invert encode sample-for-sample. */
  private[graft] def q142(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
    val wav = docs.map { case (id, text) =>
      val n = 1 + (text.getBytes("UTF-8").length % 300)
      val samples = Array.tabulate(n)(j => ((id * 131 + j * 17) % 4001).toInt - 2000)
      (id, Multimodal.WavCodec.encodeSamples(
        8000 + (id % 8).toInt * 1000, 1, samples), "audio/wav")
    }.toDF("media_id", "bytes", "mime")
    Multimodal.extractAudioStats(s, wav).toDF()
      .select(col("media_id").as("doc_id"), col("sample_rate"),
        col("n_samples"), col("sum_samples"), col("peak"),
        col("first_sample"), col("last_sample"))
      .orderBy(col("doc_id"))
  }

  /** REAL video frame decode (q142's sample-level contract applied to
    * video): uncompressed-DIB AVIs are SYNTHESIZED frame-by-frame from
    * a fixed per-pixel rule over (doc_id, frame, stored-row, col),
    * encoded through [[Multimodal.AviCodec.encodeFrames]] (real `movi`
    * list, 4-byte row padding), and decoded back pixel-for-pixel by
    * [[Multimodal.extractVideoFrameStats]]. The oracle recomputes every
    * channel sum and endpoint byte analytically from the same rule —
    * decode must invert encode across varying widths (stride padding 0
    * and 2 both occur) or the hash breaks. */
  private[graft] def q149(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = T(s, dir, "documents").select(col("doc_id")).as[Long]
    val avi = docs.map { id =>
      val w = 8 + (id % 3).toInt * 2 // 8, 10, 12 → stride pad 0/2/0
      val h = 4 + (id % 2).toInt * 2
      val nf = 1 + (id % 3).toInt
      val stride = Multimodal.AviCodec.frameStride(w)
      val frames = (0 until nf).map { f =>
        val a = new Array[Byte](stride * h)
        var sRow = 0
        while (sRow < h) {
          var x = 0
          while (x < w) {
            val base = id * 7 + f * 13 + sRow * 5 + x * 3
            val p = sRow * stride + x * 3
            a(p) = (base % 256).toByte
            a(p + 1) = ((base + 11) % 256).toByte
            a(p + 2) = ((base + 22) % 256).toByte
            x += 1
          }
          sRow += 1
        }
        a
      }
      (id, Multimodal.AviCodec.encodeFrames(w, h, 40000, frames), "video/avi")
    }.toDF("media_id", "bytes", "mime")
    Multimodal.extractVideoFrameStats(s, avi).toDF()
      .select(col("media_id").as("doc_id"), col("frame_idx"), col("sum_b"),
        col("sum_g"), col("sum_r"), col("first_byte"), col("last_byte"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Weak-supervision QUALITY classifier (CCNet-style distillation): the
    * regex heuristic labels the top/bottom quality quartiles, the NB
    * machinery trains on those weak labels, and the MODEL re-scores
    * every document — the remaining "model-based quality scoring" gap,
    * with training replayed end-to-end like q135. */
  private[graft] def q138(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // sampleBp default = full ranking at gate scale; big corpora label a
    // deterministic hash sample instead (see qualityWeakLabels' contract)
    // cache the labeled quartiles: training reads them twice (label
    // stats + gram aggregate), and uncached each pass re-runs the
    // quality-regex filter pipeline (measured 7.9 s vs 1.6 s at sf0.1)
    val labeled = operators.LangModel.qualityWeakLabels(docs, "doc_id", "text").cache()
    try {
      val model = operators.LangModel.train(labeled, "text", "qlabel")
      operators.LangModel.predict(docs, "doc_id", "text", model)
        .select(col("id").as("doc_id"), col("pred_lang").as("pred_quality"),
          col("score"))
        .orderBy(col("doc_id"))
    } finally labeled.unpersist()
  }

  /** FROZEN-MODEL classification of a document STREAM: the NB model
    * trains offline (batch), then documents arrive as two file-source
    * micro-batches and are classified per-row inside the streaming plan
    * (`LangModel.classify` — broadcast fold, no state, no shuffle).
    * Pinned to q135's oracle: micro-batch boundaries must be invisible
    * in the final predictions — the AnnStream frozen-model contract
    * applied to a classifier. */
  private[graft] def q139(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
    val model = ensureNbLang(s, dir)
    val tmp = graft.io.TempDirs.scratch("graft-q139")
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(tmp)
    docs.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(tmp)
    val stream = s.readStream.schema(docs.schema).parquet(tmp)
    val scored = operators.LangModel.classify(stream, "text", model)
      .select(col("doc_id"), col("pred_lang"), col("score"))
    graft.streaming.EventStream.runBounded(s, scored, "graft_q139_sink", "append")
      .orderBy(col("doc_id"))
  }

  /** STREAMING-TRAINED NB (q139's mirror image): q139 froze a
    * batch-trained model and streamed the SCORING; here the TRAINING
    * streams — two micro-batches of labeled documents fold through
    * [[graft.streaming.NbStream.trainingSink]]'s versioned monoid state
    * (crash-injected in StreamingCrashSpec), and the committed model
    * classifies the full corpus. Pinned to q135's oracle: micro-batch
    * boundaries must be invisible in the trained model (merge is exact),
    * so every prediction and score replays against the BATCH training
    * SQL. */
  private[graft] def q144(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
    val tmp = graft.io.TempDirs.scratch("graft-q144")
    val src = s"$tmp/src"
    def drain(): Unit = {
      val q = graft.streaming.NbStream.trainingSink(s,
        s.readStream.schema(docs.schema).parquet(src),
        "text", "lang", s"$tmp/model", s"$tmp/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    drain() // micro-batch 0: even docs
    docs.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(src)
    drain() // micro-batch 1: odd docs fold into the committed model
    val model = graft.streaming.NbStream.readCurrentModel(s, s"$tmp/model")
    operators.LangModel.predict(docs, "doc_id", "text", model)
      .select(col("id").as("doc_id"), col("pred_lang"), col("score"))
      .orderBy(col("doc_id"))
  }

  /** Delta-format table lifecycle, end-to-end through the open
    * `_delta_log` protocol: create (partitioned by lang) → append →
    * full overwrite with a widened value, then read BOTH the latest
    * snapshot and a TIME-TRAVEL version from the log alone
    * ([[graft.io.DeltaInterop]] — the same table a stock Spark install
    * reads with no graft on the classpath, 2-JVM spec-proven). The
    * oracle replays both snapshots analytically: v1 = the full corpus
    * as written, latest = the overwrite's shifted n_chars. */
  private[graft] def q140(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val tmp = graft.io.TempDirs.scratch("graft-q140")
    // v0: two-thirds of the corpus; v1: append the rest; v2: overwrite
    // everything with n_chars+1 (removes all v0/v1 files in one commit)
    graft.io.DeltaInterop.writeDelta(
      docs.filter(col("doc_id") % 3 =!= 0), tmp, Seq("lang"))
    graft.io.DeltaInterop.writeDelta(
      docs.filter(col("doc_id") % 3 === 0), tmp, Seq("lang"))
    graft.io.DeltaInterop.writeDelta(
      docs.withColumn("n_chars", col("n_chars") + 1), tmp, Seq("lang"),
      overwrite = true)
    val latest = graft.io.DeltaInterop.readDelta(s, tmp)
    val v1 = graft.io.DeltaInterop.readDelta(s, tmp, Some(1L))
    latest.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_latest"), sum(col("n_chars")).as("chars_latest"))
      .join(v1.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_v1"), sum(col("n_chars")).as("chars_v1")),
        Seq("lang"))
      .orderBy(col("lang"))
  }

  /** Delta checkpoint + log-retention lifecycle: create + 10 appends
    * (the 10th commit fires the default interval-10 auto-checkpoint at
    * v10), then [[graft.io.DeltaInterop.cleanupLog]] DELETES every JSON
    * commit below the checkpoint, then one more append (v11). Both
    * reads — latest (checkpoint + JSON tail) and time-travel v10
    * (checkpoint alone) — must reconstruct with the log prefix gone:
    * the only way in is the checkpoint parquet; a full JSON replay
    * would throw on the missing files. The oracle derives both
    * snapshots analytically (latest = the whole corpus; v10 = every
    * twelfth-slice but the last). */
  private[graft] def q145(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val tmp = graft.io.TempDirs.scratch("graft-q145")
    (0 to 10).foreach { i =>
      graft.io.DeltaInterop.writeDelta(
        docs.filter(col("doc_id") % 12 === i), tmp, Seq("lang"))
    }
    require(graft.io.DeltaInterop.cleanupLog(s, tmp) == 10,
      "expected commits 0-9 dropped below the v10 checkpoint")
    graft.io.DeltaInterop.writeDelta(
      docs.filter(col("doc_id") % 12 === 11), tmp, Seq("lang"))
    val latest = graft.io.DeltaInterop.readDelta(s, tmp)
    val v10 = graft.io.DeltaInterop.readDelta(s, tmp, Some(10L))
    latest.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_latest"), sum(col("n_chars")).as("chars_latest"))
      .join(v10.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_v10"), sum(col("n_chars")).as("chars_v10")),
        Seq("lang"))
      .orderBy(col("lang"))
  }

  /** FOREIGN-authored Delta table, consumed through
    * [[graft.io.Readers.delta]]: the log is emitted here by hand in
    * another engine's style — commitInfo lines first, `txn` actions,
    * unknown extra fields, scrambled field order, adds WITHOUT stats,
    * and a FLAT non-Hive file layout whose partition values exist only
    * in the log (the data files don't even contain the partition
    * column). The reader must treat the log — not the directory tree —
    * as the source of truth, inject partition values, and honor a
    * remove in a later commit. Final state: doc_id % 4 == 0 files from
    * commit 0 (the % 4 == 2 set is removed) plus the odd-doc files
    * from commit 1 ⇒ every doc with doc_id % 4 != 2. */
  private[graft] def q146(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val docs = T(s, dir, "documents")
    val tmp = graft.io.TempDirs.scratch("graft-q146")
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).sorted
    // one flat file per (lang, slice), partition column DROPPED — the
    // foreign layout scatters files at the table root
    def writeSlice(lang: String, pred: Column, name: String): Long = {
      val staging = s"$tmp/.stage-$name"
      docs.filter(col("lang") === lang && pred).drop("lang")
        .coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      require(part.length == 1)
      val dst = Paths.get(tmp, name)
      Files.move(part.head.toPath, dst)
      Files.size(dst) // staging leftovers are scratch-cleaned at exit
    }
    val M = new com.fasterxml.jackson.databind.ObjectMapper()
    def addLine(name: String, lang: String, size: Long, withStats: Boolean): String = {
      val n = M.createObjectNode(); val a = n.putObject("add")
      a.put("dataChange", true); a.put("size", size) // scrambled order
      a.put("path", name); a.put("modificationTime", 1690000000000L)
      a.putObject("partitionValues").put("lang", lang)
      // a foreign stats blob WITHOUT numRecords — lenient parse ⇒ unknown
      if (withStats) a.put("stats", """{"minValues":{"doc_id":1}}""")
      a.putNull("deletionVector") // unknown-to-us field: must be ignored
      M.writeValueAsString(n)
    }
    val c0 = scala.collection.mutable.ArrayBuffer[String](
      """{"commitInfo":{"timestamp":1690000000000,"operation":"WRITE","operationParameters":{"mode":"Overwrite"},"engineInfo":"foreign-engine/9.9"}}""",
      """{"protocol":{"minWriterVersion":2,"minReaderVersion":1}}""")
    val md = M.createObjectNode(); val m = md.putObject("metaData")
    m.putArray("partitionColumns").add("lang") // order ≠ our writer's
    val fmt = m.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
    m.put("id", "00000000-dead-beef-0000-000000000000")
    m.put("name", "foreign_docs"); m.put("description", "authored elsewhere")
    m.put("schemaString", docs.schema.json)
    m.putObject("configuration").put("delta.checkpointInterval", "10")
    m.put("createdTime", 1690000000000L)
    c0 += M.writeValueAsString(md)
    val c1 = scala.collection.mutable.ArrayBuffer[String](
      """{"commitInfo":{"timestamp":1690000001000,"operation":"MERGE","engineInfo":"foreign-engine/9.9"}}""",
      """{"txn":{"appId":"foreign-writer","version":7,"lastUpdated":1690000001000}}""")
    langs.foreach { lang =>
      val kSize = writeSlice(lang, col("doc_id") % 4 === 0, s"part-k-$lang.snappy.parquet")
      val rSize = writeSlice(lang, col("doc_id") % 4 === 2, s"part-r-$lang.snappy.parquet")
      val oSize = writeSlice(lang, col("doc_id") % 2 === 1, s"part-o-$lang.snappy.parquet")
      c0 += addLine(s"part-k-$lang.snappy.parquet", lang, kSize, withStats = false)
      c0 += addLine(s"part-r-$lang.snappy.parquet", lang, rSize, withStats = false)
      c1 += addLine(s"part-o-$lang.snappy.parquet", lang, oSize, withStats = true)
      c1 += s"""{"remove":{"path":"part-r-$lang.snappy.parquet","deletionTimestamp":1690000002000,"dataChange":true,"extendedFileMetadata":true,"partitionValues":{"lang":"$lang"},"size":$rSize}}"""
    }
    val logDir = Paths.get(tmp, "_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve("00000000000000000000.json"),
      (c0.mkString("\n") + "\n").getBytes("UTF-8"))
    Files.write(logDir.resolve("00000000000000000001.json"),
      (c1.mkString("\n") + "\n").getBytes("UTF-8"))
    graft.io.Readers.delta(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .orderBy(col("lang"))
  }

  /** Structured Streaming → Delta table, exactly-once
    * ([[graft.streaming.DeltaStream]]): two micro-batches append through
    * `txn`-stamped commits, then the WHOLE stream replays on a fresh
    * checkpoint (the at-least-once delivery case) — the table's txn
    * watermark must drop the replay or every count doubles and the hash
    * breaks. The final table is read back through the ordinary Delta
    * reader; oracle = the full corpus. */
  private[graft] def q150(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q150")
    val src = s"$tmp/src"
    val table = s"$tmp/table"
    def drain(ck: String): Unit = {
      val q = graft.streaming.DeltaStream.sink(s,
        s.readStream.schema(docs.schema).parquet(src),
        table, Seq("lang"), "graft-q150", ck)
      try q.processAllAvailable() finally q.stop()
    }
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    drain(s"$tmp/ckpt") // batch 0: even docs
    docs.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(src)
    drain(s"$tmp/ckpt") // batch 1: odd docs
    drain(s"$tmp/ckpt-replay") // full at-least-once replay: watermark drops it
    graft.io.Readers.delta(s, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .orderBy(col("lang"))
  }

  /** LOG-LEVEL data skipping ([[graft.io.DeltaInterop.filesInRange]]):
    * orders land in a Delta table range-partitioned on the key, so each
    * file's log stats carry a disjoint key range; a 20%-of-keyspace
    * range read must prune files from the stats ALONE (enforced — the
    * query aborts if every file survives) and still aggregate exactly.
    * The bounds derive from min/max with integer arithmetic so the
    * DuckDB oracle computes the identical window at any scale. */
  private[graft] def q151(s: SparkSession, dir: String): DataFrame = {
    val orders = T(s, dir, "orders")
    val tmp = graft.io.TempDirs.scratch("graft-q151")
    graft.io.DeltaInterop.writeDelta(
      orders.repartitionByRange(8, col("o_orderkey")), tmp, Nil)
    val mm = orders.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val lo = mn + (mx - mn) / 10
    val hi = mn + 3 * ((mx - mn) / 10)
    val st = graft.io.DeltaInterop.state(s, tmp)
    val hit = graft.io.DeltaInterop.filesInRange(st, "o_orderkey", lo.toDouble, hi.toDouble)
    require(hit.length < st.files.length,
      s"data skipping did not engage: ${hit.length} of ${st.files.length} files")
    graft.io.DeltaInterop.readDeltaRange(s, tmp, "o_orderkey", lo.toDouble, hi.toDouble)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Delta maintenance lifecycle — OPTIMIZE + VACUUM: 7 small appends
    * fragment every `lang` partition, [[graft.io.DeltaInterop.compact]]
    * rewrites them (one distributed job, dataChange=false swap), then
    * checkpoint + log cleanup age the originals out and
    * [[graft.io.DeltaInterop.vacuum]] reclaims them. The result reads
    * the corpus THREE ways — pre-compact time travel (original files),
    * post-compact (rewritten files), post-vacuum (originals gone) —
    * and all three must agree with the analytic oracle: maintenance
    * must never change what a reader sees. */
  private[graft] def q147(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val tmp = graft.io.TempDirs.scratch("graft-q147")
    (0 to 6).foreach { i =>
      graft.io.DeltaInterop.writeDelta(
        docs.filter(col("doc_id") % 7 === i), tmp, Seq("lang"))
    }
    def agg(df: DataFrame, n: String, c: String): DataFrame =
      df.groupBy(col("lang")).agg(count(lit(1)).as(n), sum(col("n_chars")).as(c))
    // materialize NOW: this snapshot's files are vacuumed below, and a
    // lazy plan would dangle (lang-count rows — driver-trivial)
    val preLazy = agg(graft.io.DeltaInterop.readDelta(s, tmp, Some(6L)), "n_pre", "chars_pre")
    val pre = s.createDataFrame(
      java.util.Arrays.asList(preLazy.collect(): _*), preLazy.schema)
    val (_, rewritten, created) = graft.io.DeltaInterop.compact(s, tmp)
    require(rewritten > 0 && created < rewritten, s"compaction was a no-op: $rewritten -> $created")
    val post = agg(graft.io.DeltaInterop.readDelta(s, tmp), "n_opt", "chars_opt")
    graft.io.DeltaInterop.checkpoint(s, tmp)
    require(graft.io.DeltaInterop.cleanupLog(s, tmp) == 7)
    require(graft.io.DeltaInterop.vacuum(s, tmp, retainMillis = 0L) == rewritten)
    val vac = agg(graft.io.DeltaInterop.readDelta(s, tmp), "n_vac", "chars_vac")
    pre.join(post, Seq("lang")).join(vac, Seq("lang")).orderBy(col("lang"))
  }

  /** q152 — copy-on-write DELETE + UPDATE on a Delta table, the row-level
    * lifecycle (delta-spark's DeleteCommand/UpdateCommand semantics over
    * the plain v2 log). The table range-partitions `doc_id` across files
    * so the DELETE's candidate set is log-stats-pruned BEFORE any scan —
    * the query aborts if pruning fails to engage (the q151 contract) —
    * and only files holding matches are rewritten. The UPDATE then
    * applies SET n_chars = n_chars + 100 to doc_id % 5 = 0 survivors,
    * evaluated against the OLD rows. Result: per-lang aggregates of the
    * pre-delete snapshot (time travel to v0) joined with the final
    * state — both derive analytically from the corpus, so DuckDB
    * replays every row the engine kept, dropped, and rewrote. */
  private[graft] def q152(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val tmp = graft.io.TempDirs.scratch("graft-q152")
    graft.io.DeltaInterop.writeDelta(
      docs.repartitionByRange(8, col("doc_id")), tmp, Seq("lang"))
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 5 // delete everything below k (exclusive)
    val st0 = graft.io.DeltaInterop.state(s, tmp)
    val candidates = graft.io.DeltaInterop.prunedFiles(st0,
      ranges = Map("doc_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(candidates.length < st0.files.length,
      s"delete candidate pruning did not engage: ${candidates.length} of ${st0.files.length}")
    val (v1, rewrote) = graft.io.DeltaInterop.deleteWhere(s, tmp,
      col("doc_id") < k,
      ranges = Map("doc_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(v1 == 1L && rewrote > 0 && rewrote <= candidates.length,
      s"delete rewrote $rewrote files (candidates ${candidates.length})")
    val (v2, _) = graft.io.DeltaInterop.updateWhere(s, tmp,
      col("doc_id") % 5 === 0,
      Map("n_chars" -> (col("n_chars") + 100)))
    require(v2 == 2L)
    val pre = graft.io.DeltaInterop.readDelta(s, tmp, Some(0L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pre"), sum(col("n_chars")).as("chars_pre"))
    val post = graft.io.DeltaInterop.readDelta(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_post"), sum(col("n_chars")).as("chars_post"))
    pre.join(post, Seq("lang")).orderBy(col("lang"))
  }

  /** q153 — copy-on-write MERGE (upsert) on a Delta table: source rows
    * whose `doc_id` matches REPLACE the target row, unmatched source
    * rows INSERT (delta-spark's when-matched-update-all /
    * when-not-matched-insert-all). The update half is range-local
    * (doc_id < k, doc_id % 6 = 0) so the matched-key probe touches a
    * strict subset of files — the query asserts untouched files
    * survived by path identity, the file-level copy-on-write contract.
    * Inserts are synthesized deterministically from the corpus
    * (doc_id + max(doc_id) + 1 — key-disjoint at ANY scale), so DuckDB
    * rebuilds the merged table as a CASE + UNION ALL and replays the
    * per-lang aggregate exactly. */
  private[graft] def q153(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val tmp = graft.io.TempDirs.scratch("graft-q153")
    graft.io.DeltaInterop.writeDelta(
      docs.repartitionByRange(8, col("doc_id")), tmp, Seq("lang"))
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 4
    val updates = docs.filter(col("doc_id") < k && col("doc_id") % 6 === 0)
      .withColumn("n_chars", col("n_chars") + 1000)
    val inserts = docs.filter(col("doc_id") % 9 === 4)
      .withColumn("doc_id", col("doc_id") + (mx + 1L))
      .withColumn("n_chars", col("n_chars") + 7)
    val before = graft.io.DeltaInterop.state(s, tmp).files.map(_.path).toSet
    val (v, rewrote, inserted) = graft.io.DeltaInterop.merge(
      s, tmp, updates.unionByName(inserts), Seq("doc_id"))
    require(v == 1L && rewrote > 0 && rewrote < before.size,
      s"merge rewrote $rewrote of ${before.size} files — expected a strict subset")
    require(inserted > 0, "merge inserted nothing")
    val after = graft.io.DeltaInterop.state(s, tmp).files.map(_.path).toSet
    require((before intersect after).size == before.size - rewrote,
      "untouched files did not survive by path identity")
    graft.io.DeltaInterop.readDelta(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .orderBy(col("lang"))
  }

  /** q154 — FOREIGN column-mapped Delta table (PROTOCOL.md "Column
    * Mapping", reader version 2): the parquet files store columns under
    * physical names (`c_doc`, `c_nch`), the logical names exist ONLY in
    * schemaString's field metadata, partitionValues are keyed by the
    * partition column's PHYSICAL name (`c_lng`), and the layout is flat
    * (no Hive dirs). This is what delta-spark emits once column mapping
    * is enabled — i.e. any table that ever renamed/dropped a column —
    * so reading it is table-stakes for "switch your reader to graft".
    * Commit 1 removes the doc_id%3=2 slice files, so the reader must
    * also prove log-replay over mapped adds. Final state: every doc
    * with doc_id%3 != 2, aggregated per lang. */
  private[graft] def q154(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types._
    val docs = T(s, dir, "documents")
    val tmp = graft.io.TempDirs.scratch("graft-q154")
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).sorted
    def writeSlice(lang: String, slice: Int): (String, Long) = {
      val name = s"part-$slice-$lang.snappy.parquet"
      val staging = s"$tmp/.stage-$slice-$lang"
      docs.filter(col("lang") === lang && col("doc_id") % 3 === slice)
        .select(col("doc_id").as("c_doc"), col("n_chars").as("c_nch"))
        .coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      require(part.length == 1)
      val dst = Paths.get(tmp, name)
      Files.move(part.head.toPath, dst)
      (name, Files.size(dst))
    }
    def meta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("doc_id", LongType, nullable = true, meta(1, "c_doc")),
      StructField("n_chars", LongType, nullable = true, meta(2, "c_nch")),
      StructField("lang", StringType, nullable = true, meta(3, "c_lng"))))
    val J = new com.fasterxml.jackson.databind.ObjectMapper()
    val mdNode = J.createObjectNode()
    val md = mdNode.putObject("metaData")
    md.put("id", "colmap-foreign-fixture")
    val fmt = md.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
    md.put("schemaString", logical.json)
    md.putArray("partitionColumns").add("lang")
    val cfg = md.putObject("configuration")
    cfg.put("delta.columnMapping.mode", "name")
    cfg.put("delta.columnMapping.maxColumnId", "3")
    md.put("createdTime", 0L)
    val c0 = scala.collection.mutable.ArrayBuffer[String](
      """{"commitInfo":{"timestamp":1690000000000,"operation":"WRITE","engineInfo":"foreign-engine/9.9"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      J.writeValueAsString(mdNode))
    val c1 = scala.collection.mutable.ArrayBuffer[String](
      """{"commitInfo":{"timestamp":1690000001000,"operation":"DELETE","engineInfo":"foreign-engine/9.9"}}""")
    langs.foreach { lang =>
      (0 to 2).foreach { slice =>
        val (name, size) = writeSlice(lang, slice)
        c0 += s"""{"add":{"path":"$name","partitionValues":{"c_lng":"$lang"},"size":$size,"modificationTime":0,"dataChange":true}}"""
        if (slice == 2)
          c1 += s"""{"remove":{"path":"$name","deletionTimestamp":1690000002000,"dataChange":true}}"""
      }
    }
    val logDir = Paths.get(tmp, "_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve("00000000000000000000.json"),
      (c0.mkString("\n") + "\n").getBytes("UTF-8"))
    Files.write(logDir.resolve("00000000000000000001.json"),
      (c1.mkString("\n") + "\n").getBytes("UTF-8"))
    graft.io.DeltaInterop.readDelta(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .orderBy(col("lang"))
  }

  /** q155 — FOREIGN Delta table with DELETION VECTORS (PROTOCOL.md
    * "Deletion Vectors", reader version 3): each (lang, doc_id%4) slice
    * is one doc_id-ordered file whose `add` carries a sidecar DV
    * masking its first ⌊cnt/7⌋ ROW INDICES — Z85-encoded UUID path,
    * length-prefixed + CRC'd RoaringBitmapArray bitmap, exactly what a
    * delta-spark DV DELETE leaves behind. The reader must mask by
    * (file, row index) without rewriting anything; DuckDB replays the
    * same mask as a window rank over the slice ordering. */
  private[graft] def q155(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val docs = T(s, dir, "documents")
    val tmp = graft.io.TempDirs.scratch("graft-q155")
    val slices = docs.groupBy(col("lang"), (col("doc_id") % 4).as("slice"))
      .count().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val schema = docs.select("doc_id", "lang", "n_chars").schema
    val J = new com.fasterxml.jackson.databind.ObjectMapper()
    val md = J.createObjectNode(); val m = md.putObject("metaData")
    m.put("id", "dv-foreign-fixture")
    val fmt = m.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
    m.put("schemaString", schema.json)
    m.putArray("partitionColumns"); m.putObject("configuration"); m.put("createdTime", 0L)
    val c0 = scala.collection.mutable.ArrayBuffer[String](
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      J.writeValueAsString(md))
    slices.foreach { case (lang, slice, cnt) =>
      val name = s"part-$slice-$lang.snappy.parquet"
      val staging = s"$tmp/.stage-$slice-$lang"
      docs.filter(col("lang") === lang && col("doc_id") % 4 === slice)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .coalesce(1).sortWithinPartitions("doc_id").write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      require(part.length == 1)
      val dst = Paths.get(tmp, name)
      Files.move(part.head.toPath, dst)
      val size = Files.size(dst)
      val masked = cnt / 7
      val add = J.createObjectNode(); val a = add.putObject("add")
      a.put("path", name); a.putObject("partitionValues")
      a.put("size", size); a.put("modificationTime", 0L); a.put("dataChange", true)
      if (masked > 0) {
        val dvDesc = graft.io.DeletionVectors.writeSidecar(
          s, tmp, (0L until masked).toArray)
        a.set[com.fasterxml.jackson.databind.JsonNode](
          "deletionVector", J.readTree(dvDesc))
      }
      c0 += J.writeValueAsString(add)
    }
    val logDir = Paths.get(tmp, "_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve("00000000000000000000.json"),
      (c0.mkString("\n") + "\n").getBytes("UTF-8"))
    graft.io.DeltaInterop.readDelta(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .orderBy(col("lang"))
  }

  /** q156 — OPTIMIZE ZORDER BY (o_orderkey, o_custkey): the table is
    * first written hash-scattered (every file spans every key range, so
    * stats pruning can prune NOTHING — asserted), then z-order
    * clustered. After clustering each file covers one contiguous Morton
    * range = a small axis-aligned box, so a conjunctive range predicate
    * on BOTH dimensions prunes most files from the log stats alone —
    * the query aborts unless clustering strictly improved pruning and
    * the pruned read covers < half the files. Result: the same
    * aggregate as a plain two-sided BETWEEN, which DuckDB replays —
    * proving the swap + pruned read lost and invented nothing. */
  private[graft] def q156(s: SparkSession, dir: String): DataFrame = {
    val orders = T(s, dir, "orders")
    val tmp = graft.io.TempDirs.scratch("graft-q156")
    // hash-scatter: every file sees the full o_orderkey/o_custkey range
    graft.io.DeltaInterop.writeDelta(
      orders.repartition(8, col("o_orderkey")), tmp, Nil)
    val mm = orders.agg(
      min(col("o_orderkey")), max(col("o_orderkey")),
      min(col("o_custkey")), max(col("o_custkey"))).head()
    def band(lo: Long, hi: Long): (Double, Double) = {
      val k = (hi - lo) / 10
      // a [40%, 50%) band sits inside one quadrant at every z level —
      // a mid-straddling band would defeat ANY binary space split
      ((lo + 4 * k).toDouble, (lo + 5 * k).toDouble)
    }
    val (okLo, okHi) = band(mm.getLong(0), mm.getLong(1))
    val (ckLo, ckHi) = band(mm.getLong(2), mm.getLong(3))
    val ranges = Map("o_orderkey" -> ((okLo, okHi)), "o_custkey" -> ((ckLo, ckHi)))
    val before = graft.io.DeltaInterop.state(s, tmp)
    val prunedBefore = graft.io.DeltaInterop.prunedFiles(before, ranges = ranges)
    require(prunedBefore.length == before.files.length,
      s"scattered layout unexpectedly prunable: ${prunedBefore.length} of ${before.files.length}")
    val (v, rewritten, created) = graft.io.DeltaInterop.optimizeZOrder(
      s, tmp, Seq("o_orderkey", "o_custkey"), targetFiles = 16)
    require(v == 1L && rewritten == 8 && created > 1,
      s"zorder was a no-op: v=$v rewritten=$rewritten created=$created")
    val after = graft.io.DeltaInterop.state(s, tmp)
    val prunedAfter = graft.io.DeltaInterop.prunedFiles(after, ranges = ranges)
    require(prunedAfter.length < after.files.length / 2,
      s"zorder pruning did not engage: ${prunedAfter.length} of ${after.files.length} files")
    graft.io.DeltaInterop.readDeltaWhere(s, tmp, ranges = ranges)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** q158 — merge-on-read DELETE via DELETION VECTORS (writer v7): two
    * deletes run against the table and NEITHER rewrites a data file —
    * each writes per-file RoaringBitmapArray sidecars of deleted row
    * indices and swaps the `add`s to carry the descriptors (asserted:
    * the file-path set is unchanged, and every file carries a DV after
    * round 2, which also proves the second delete UNIONED into the
    * first's bitmaps). O(deleted rows) work where copy-on-write q152
    * would rewrite every touched file — the 100 TB low-selectivity
    * path. The second delete's candidates are log-stats-pruned first
    * (the q151/q152 contract). Result: pre (v0 time travel) vs post
    * (DV-masked read) per-lang aggregates, both analytic in DuckDB. */
  private[graft] def q158(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val tmp = graft.io.TempDirs.scratch("graft-q158")
    graft.io.DeltaInterop.writeDelta(
      docs.repartitionByRange(8, col("doc_id")), tmp, Seq("lang"))
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 5
    val st0 = graft.io.DeltaInterop.state(s, tmp)
    val paths0 = st0.files.map(_.path).toSet
    // round 1: a delete spread across every doc_id range — every file
    // is touched, none may be rewritten
    val (v1, touched1, del1) = graft.io.DeltaInterop.deleteWhereDV(
      s, tmp, col("doc_id") % 7 === 3)
    require(v1 == 1L && touched1 > 0 && del1 > 0,
      s"DV delete was a no-op: v=$v1 touched=$touched1 deleted=$del1")
    val st1 = graft.io.DeltaInterop.state(s, tmp)
    // descriptor swaps only: no file is ever REWRITTEN (a fully-dead
    // file may drop outright — that is a remove, not a rewrite)
    require(st1.files.map(_.path).toSet.subsetOf(paths0) &&
      st1.files.exists(_.deletionVector != null),
      "DV delete rewrote data files — expected descriptor swaps only")
    // round 2: range-local delete, candidates pruned from the log alone
    val candidates = graft.io.DeltaInterop.prunedFiles(st1,
      ranges = Map("doc_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(candidates.length < st1.files.length,
      s"delete candidate pruning did not engage: ${candidates.length} of ${st1.files.length}")
    val (v2, touched2, del2) = graft.io.DeltaInterop.deleteWhereDV(
      s, tmp, col("doc_id") < k,
      ranges = Map("doc_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(v2 == 2L && touched2 <= candidates.length && del2 > 0,
      s"round-2 DV delete: touched=$touched2 (candidates ${candidates.length}) deleted=$del2")
    val st2 = graft.io.DeltaInterop.state(s, tmp)
    require(st2.files.map(_.path).toSet.subsetOf(paths0) &&
      st2.files.exists(_.deletionVector != null),
      "after both deletes no new data file may exist and DVs must remain")
    val pre = graft.io.DeltaInterop.readDelta(s, tmp, Some(0L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pre"), sum(col("n_chars")).as("chars_pre"))
    val post = graft.io.DeltaInterop.readDelta(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_post"), sum(col("n_chars")).as("chars_post"))
    pre.join(post, Seq("lang")).orderBy(col("lang"))
  }

  /** q159 — STREAMING Delta SOURCE ([[graft.streaming.DeltaSource]],
    * `readStream.format("graft-delta")`): two-thirds of the corpus is
    * the stream-START snapshot, the last third APPENDS while the stream
    * is live and arrives as tail commits; `maxFilesPerTrigger` forces
    * the snapshot through several rate-limited micro-batches. Each
    * batch folds to per-lang partials and the partials SUM to the
    * corpus aggregate — true only if every row is delivered exactly
    * once across batch cuts and phases (a dropped file or a re-emitted
    * commit breaks the hash). The query ABORTS unless the rate limit
    * actually produced ≥2 data batches. */
  private[graft] def q159(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q159")
    val table = s"$tmp/table"
    graft.io.DeltaInterop.writeDelta(
      docs.filter(col("doc_id") % 3 =!= 2).repartitionByRange(4, col("doc_id")),
      table, Seq("lang"))
    val buf = scala.collection.mutable.ListBuffer.empty[(String, Long, Long)]
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = s.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "3").load(table)
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        if (rows.nonEmpty) {
          batches.incrementAndGet()
          buf.synchronized { buf ++= rows }
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      graft.io.DeltaInterop.writeDelta(docs.filter(col("doc_id") % 3 === 2),
        table, Seq("lang"))
      q.processAllAvailable()
    } finally q.stop()
    require(batches.get >= 2,
      s"maxFilesPerTrigger should cut ≥2 data batches, saw ${batches.get}")
    import s.implicits._
    buf.synchronized(buf.toList).toDF("lang", "n", "chars")
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"), sum(col("chars")).as("chars"))
      .orderBy(col("lang"))
  }

  /** q160 — CHANGE DATA FEED lifecycle ([[graft.io.DeltaInterop
    * .readChangeFeed]], Delta's `table_changes()`): create → enable CDF
    * → copy-on-write DELETE (CDC `delete` rows) → UPDATE (`update_pre/
    * postimage` pairs) → append (derived `insert`s, no CDC files) —
    * then read the WHOLE feed and aggregate per (change_type, lang).
    * Every change class is analytic: deletes carry pre-delete values
    * (the delete ran first), updates hit only surviving doc_id%5==0
    * rows, the appended copy is shifted by +7 chars. The query ABORTS
    * unless the delete and update commits actually authored
    * `_change_data/` files (a derived feed would mask a broken writer). */
  private[graft] def q160(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q160")
    graft.io.DeltaInterop.writeDelta(docs, tmp, Seq("lang"))              // v0
    graft.io.DeltaInterop.setTableProperties(s, tmp,
      Map("delta.enableChangeDataFeed" -> "true"))                        // v1
    val (vDel, _) = graft.io.DeltaInterop.deleteWhere(s, tmp,
      col("doc_id") % 7 === 3)                                            // v2
    val (vUpd, _) = graft.io.DeltaInterop.updateWhere(s, tmp,
      col("doc_id") % 5 === 0,
      Map("n_chars" -> (col("n_chars") + 100)))                           // v3
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    graft.io.DeltaInterop.writeDelta(
      docs.select((col("doc_id") + mx + 1).as("doc_id"), col("lang"),
        (col("n_chars") + 7).as("n_chars")), tmp, Seq("lang"))            // v4
    require(vDel == 2L && vUpd == 3L, s"unexpected versions: del=$vDel upd=$vUpd")
    val f = new org.apache.hadoop.fs.Path(tmp, "_change_data")
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    require(f.exists(new org.apache.hadoop.fs.Path(tmp, "_change_data")),
      "row ops must author _change_data files when CDF is enabled")
    graft.io.DeltaInterop.readChangeFeed(s, tmp, 0L, 4L)
      .groupBy(col("_change_type").as("change_type"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .orderBy(col("change_type"), col("lang"))
  }

  /** q161 — merge-on-read UPDATE via DELETION VECTORS
    * ([[graft.io.DeltaInterop.updateWhereDV]]): two updates — one
    * spread across every range (+1000 where doc_id%6==1), one
    * range-local (+40 below the 25th-percentile doc_id, candidates
    * pruned from log stats alone) — and NO original data file is ever
    * rewritten: old rows mask out by descriptor swap, postimages append
    * as fresh files. O(updated rows) where q152's copy-on-write UPDATE
    * rewrites whole files — the 100 TB low-selectivity write path.
    * Result: the final per-lang aggregate joined with the v0 time
    * travel (the mask must not leak into history). */
  private[graft] def q161(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q161")
    graft.io.DeltaInterop.writeDelta(
      docs.repartitionByRange(8, col("doc_id")), tmp, Seq("lang"))
    val st0 = graft.io.DeltaInterop.state(s, tmp)
    val paths0 = st0.files.map(_.path).toSet
    val (v1, masked1, n1) = graft.io.DeltaInterop.updateWhereDV(s, tmp,
      col("doc_id") % 6 === 1, Map("n_chars" -> (col("n_chars") + 1000)))
    require(v1 == 1L && masked1 > 0 && n1 > 0,
      s"DV update was a no-op: v=$v1 masked=$masked1 rows=$n1")
    val st1 = graft.io.DeltaInterop.state(s, tmp)
    require(paths0.subsetOf(st1.files.map(_.path).toSet),
      "DV update rewrote original data files — expected descriptor swaps only")
    require(st1.files.exists(_.deletionVector != null) &&
      st1.files.exists(a => !paths0(a.path)),
      "expected masked originals plus fresh postimage files")
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 4
    val candidates = graft.io.DeltaInterop.prunedFiles(st1,
      ranges = Map("doc_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(candidates.length < st1.files.length,
      s"update candidate pruning did not engage: ${candidates.length} of ${st1.files.length}")
    val (v2, masked2, n2) = graft.io.DeltaInterop.updateWhereDV(s, tmp,
      col("doc_id") < k, Map("n_chars" -> (col("n_chars") + 40)),
      ranges = Map("doc_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(v2 == 2L && masked2 <= candidates.length && n2 > 0,
      s"round-2 DV update: masked=$masked2 (candidates ${candidates.length}) rows=$n2")
    val pre = graft.io.DeltaInterop.readDelta(s, tmp, Some(0L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pre"), sum(col("n_chars")).as("chars_pre"))
    val post = graft.io.DeltaInterop.readDelta(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_post"), sum(col("n_chars")).as("chars_post"))
    pre.join(post, Seq("lang")).orderBy(col("lang"))
  }

  /** q162 — RESTORE TABLE ([[graft.io.DeltaInterop.restore]], Delta's
    * `RESTORE ... VERSION AS OF`): delete a fifth of the corpus, append
    * a shifted copy, then restore to v0 — ONE metadata-sized diff
    * commit, no data movement (asserted: the restore re-adds/removes
    * files it never rewrites). The restored head must equal the
    * original corpus AND the pre-restore head must stay time-travelable
    * — both aggregated per lang, both analytic. */
  private[graft] def q162(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q162")
    graft.io.DeltaInterop.writeDelta(
      docs.repartitionByRange(6, col("doc_id")), tmp, Seq("lang"))        // v0
    graft.io.DeltaInterop.deleteWhere(s, tmp, col("doc_id") % 5 === 0)    // v1
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    graft.io.DeltaInterop.writeDelta(
      docs.select((col("doc_id") + mx + 1).as("doc_id"), col("lang"),
        (col("n_chars") + 11).as("n_chars")), tmp, Seq("lang"))           // v2
    val v0paths = graft.io.DeltaInterop.state(s, tmp, Some(0L)).files.map(_.path).toSet
    val (v, added, removed) = graft.io.DeltaInterop.restore(s, tmp, 0L)   // v3
    require(v == 3L && added > 0 && removed > 0,
      s"restore was a no-op: v=$v added=$added removed=$removed")
    val st3 = graft.io.DeltaInterop.state(s, tmp)
    require(st3.files.map(_.path).toSet == v0paths,
      "restore must re-point exactly the v0 files — no staging, no rewrite")
    val fin = graft.io.DeltaInterop.readDelta(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_final"), sum(col("n_chars")).as("chars_final"))
    val mid = graft.io.DeltaInterop.readDelta(s, tmp, Some(2L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_v2"), sum(col("n_chars")).as("chars_v2"))
    fin.join(mid, Seq("lang")).orderBy(col("lang"))
  }

  /** q163 — RENAME COLUMN / column-mapping AUTHORING
    * ([[graft.io.DeltaInterop.renameColumn]]): half the corpus writes
    * under the original schema, the rename upgrades the table to
    * mapping mode=name in the same commit (physical names frozen, zero
    * data rewritten — asserted), and the other half appends under the
    * NEW logical name — whose parquet files must carry the PHYSICAL
    * (original) column name, asserted on the raw file. The unified read
    * resolves both halves through the mapping; the oracle is the plain
    * corpus aggregate under the renamed output column. */
  private[graft] def q163(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q163")
    graft.io.DeltaInterop.writeDelta(
      docs.filter(col("doc_id") % 2 === 0), tmp, Seq("lang"))             // v0
    val paths0 = graft.io.DeltaInterop.state(s, tmp).files.map(_.path).toSet
    graft.io.DeltaInterop.renameColumn(s, tmp, "n_chars", "chars")        // v1
    val st1 = graft.io.DeltaInterop.state(s, tmp)
    require(st1.configuration.get("delta.columnMapping.mode").contains("name") &&
      st1.files.map(_.path).toSet == paths0,
      "rename must be metadata-only: mode=name, zero files rewritten")
    graft.io.DeltaInterop.writeDelta(
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("lang"), col("n_chars").as("chars")),
      tmp, Seq("lang"))                                                   // v2
    val newest = graft.io.DeltaInterop.state(s, tmp).files
      .map(_.path).filterNot(paths0).headOption
      .getOrElse(throw new IllegalStateException("append staged no files"))
    val raw = s.read.parquet(s"$tmp/$newest")
    require(raw.columns.contains("n_chars") && !raw.columns.contains("chars"),
      s"append must stage PHYSICAL names; file has ${raw.columns.mkString(",")}")
    graft.io.DeltaInterop.readDelta(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("chars"))
      .orderBy(col("lang"))
  }

  /** q164 — STREAMING change data feed (`readStream.format("graft-delta")
    * .option("readChangeFeed", true)`): q160's exact lifecycle (create →
    * enable CDF → DELETE → UPDATE → append), but the feed arrives as a
    * STREAM replayed from version 0 (`startingVersion=earliest`) through
    * rate-limited micro-batches — inserts for the data commits, CDC rows
    * for the row ops. Per-batch partials fold per (change_type, lang)
    * and must SUM to exactly the batch feed — pinned to q160's oracle,
    * so streamed CDF ≡ batch CDF is hash-proven. */
  private[graft] def q164(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q164")
    graft.io.DeltaInterop.writeDelta(docs, tmp, Seq("lang"))              // v0
    graft.io.DeltaInterop.setTableProperties(s, tmp,
      Map("delta.enableChangeDataFeed" -> "true"))                        // v1
    graft.io.DeltaInterop.deleteWhere(s, tmp, col("doc_id") % 7 === 3)    // v2
    graft.io.DeltaInterop.updateWhere(s, tmp, col("doc_id") % 5 === 0,
      Map("n_chars" -> (col("n_chars") + 100)))                           // v3
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    graft.io.DeltaInterop.writeDelta(
      docs.select((col("doc_id") + mx + 1).as("doc_id"), col("lang"),
        (col("n_chars") + 7).as("n_chars")), tmp, Seq("lang"))            // v4
    val buf = scala.collection.mutable.ListBuffer.empty[(String, String, Long, Long)]
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = s.readStream.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", "earliest")
      .option("maxFilesPerTrigger", "8").load(tmp)
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (b0: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = graft.streaming.BatchTuning.rightSize(b0.toDF())
        val rows = b.groupBy(col("_change_type"), col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        if (rows.nonEmpty) {
          batches.incrementAndGet()
          buf.synchronized { buf ++= rows }
        }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    require(batches.get >= 2,
      s"rate limit should cut ≥2 data batches, saw ${batches.get}")
    import s.implicits._
    buf.synchronized(buf.toList).toDF("change_type", "lang", "n0", "chars0")
      .groupBy(col("change_type"), col("lang"))
      .agg(sum(col("n0")).as("n"), sum(col("chars0")).as("chars"))
      .orderBy(col("change_type"), col("lang"))
  }

  /** q165 — SCHEMA EVOLUTION on a mapped table
    * ([[graft.io.DeltaInterop.addColumn]]): rename (upgrades to column
    * mapping, physical names frozen) → ADD COLUMN `quality` (fresh
    * mapping id, metadata-only — zero files rewritten, asserted) →
    * append rows CARRYING the new column (staged under its physical
    * `col-<id>` name, asserted on the raw parquet) → one unified read
    * across both epochs: pre-evolution files surface NULL quality,
    * post-evolution files their values. The oracle replays the two
    * epochs analytically over the corpus. */
  private[graft] def q165(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q165")
    graft.io.DeltaInterop.writeDelta(
      docs.filter(col("doc_id") % 2 === 0), tmp, Seq("lang"))             // v0
    graft.io.DeltaInterop.renameColumn(s, tmp, "n_chars", "chars")        // v1
    val paths1 = graft.io.DeltaInterop.state(s, tmp).files.map(_.path).toSet
    graft.io.DeltaInterop.addColumn(s, tmp, "quality",
      org.apache.spark.sql.types.LongType)                                // v2
    val st2 = graft.io.DeltaInterop.state(s, tmp)
    require(st2.files.map(_.path).toSet == paths1,
      "addColumn must be metadata-only: zero files rewritten")
    val fld = st2.schema("quality")
    require(fld.metadata.contains("delta.columnMapping.id"),
      "a column added to a mapped table needs a fresh mapping id")
    val physQuality = fld.metadata.getString("delta.columnMapping.physicalName")
    graft.io.DeltaInterop.writeDelta(
      docs.filter(col("doc_id") % 2 =!= 0).select(
        col("doc_id"), col("lang"), col("n_chars").as("chars"),
        (col("n_chars") % 100).cast("long").as("quality")),
      tmp, Seq("lang"))                                                   // v3
    val newest = graft.io.DeltaInterop.state(s, tmp).files
      .map(_.path).filterNot(paths1).headOption
      .getOrElse(throw new IllegalStateException("append staged no files"))
    val raw = s.read.parquet(s"$tmp/$newest")
    require(raw.columns.contains(physQuality) && !raw.columns.contains("quality"),
      s"append must stage the PHYSICAL column name; file has ${raw.columns.mkString(",")}")
    val t = graft.io.DeltaInterop.readDelta(s, tmp)
    require(t.filter(col("doc_id") % 2 === 0 && col("quality").isNotNull)
      .limit(1).collect().isEmpty,
      "pre-evolution files must read NULL for the added column")
    t.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("chars"),
        count(col("quality")).as("n_quality"), sum(col("quality")).as("quality"))
      .orderBy(col("lang"))
  }

  /** q166 — the SQL front-end for the Delta mutation surface
    * ([[graft.sql.DeltaSqlParser]]): after the initial write, EVERY
    * step is a `spark.sql(...)` statement — `DELETE FROM delta.`p``,
    * `UPDATE ... SET`, `MERGE INTO ... WHEN MATCHED THEN UPDATE SET *
    * WHEN NOT MATCHED THEN INSERT *`, and the final aggregate is a
    * plain `SELECT ... FROM delta.`p``. The reference's end-user
    * contract is exactly this shape (SQL over shared-catalog tables);
    * the oracle replays the three mutations analytically. */
  private[graft] def q166(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q166")
    graft.io.DeltaInterop.writeDelta(docs, tmp, Seq("lang"))          // v0
    s.sql(s"DELETE FROM delta.`$tmp` WHERE doc_id % 7 = 3")           // v1
    s.sql(s"UPDATE delta.`$tmp` SET n_chars = n_chars + 50 WHERE doc_id % 5 = 0") // v2
    docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("lang"), (col("n_chars") + 1000).as("n_chars"))
      .createOrReplaceTempView("graft_q166_src")
    s.sql(
      s"""MERGE INTO delta.`$tmp` t USING graft_q166_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)              // v3
    s.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars
         |FROM delta.`$tmp` GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** q167 — the SQL DDL/maintenance surface end-to-end: CREATE TABLE AS
    * SELECT over a raw `parquet.`path`` source (partitioned), INSERT
    * INTO, OPTIMIZE (dataChange=false — must be invisible to both
    * snapshots), ALTER TABLE ADD CONSTRAINT, INSERT OVERWRITE, and a
    * final aggregate joining the LATEST snapshot against `VERSION AS
    * OF` time travel — every statement `spark.sql(...)`. The oracle
    * derives both epochs from the corpus. */
  private[graft] def q167(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.io.TempDirs.scratch("graft-q167")
    val t = s"$tmp/t"
    val src = s"$dir/documents.parquet"
    s.sql(
      s"""CREATE TABLE delta.`$t` USING delta PARTITIONED BY (lang)
         |AS SELECT doc_id, lang, n_chars FROM parquet.`$src`
         |WHERE doc_id % 2 = 0""".stripMargin)                          // v0
    s.sql(
      s"""INSERT INTO delta.`$t`
         |SELECT doc_id, lang, n_chars FROM parquet.`$src`
         |WHERE doc_id % 2 <> 0""".stripMargin)                         // v1
    val filesBefore = graft.io.DeltaInterop.state(s, t).files.length
    s.sql(s"OPTIMIZE delta.`$t`")                                       // v2 (maybe no-op)
    require(graft.io.DeltaInterop.state(s, t).files.length <= filesBefore,
      "OPTIMIZE must never grow the file count")
    s.sql(s"ALTER TABLE delta.`$t` ADD CONSTRAINT nonneg CHECK (n_chars >= 0)") // v3
    s.sql(
      s"""INSERT OVERWRITE delta.`$t`
         |SELECT doc_id, lang, n_chars + 5 FROM parquet.`$src`""".stripMargin)  // v4
    s.sql(
      s"""SELECT cur.lang, cur.n AS n_latest, cur.chars AS chars_latest,
         |       old.n AS n_v1, old.chars AS chars_v1
         |FROM (SELECT lang, count(*) AS n, sum(n_chars) AS chars
         |      FROM delta.`$t` GROUP BY lang) cur
         |JOIN (SELECT lang, count(*) AS n, sum(n_chars) AS chars
         |      FROM delta.`$t` VERSION AS OF 1 GROUP BY lang) old
         |USING (lang) ORDER BY lang""".stripMargin)
  }

  /** q168 — GENERAL MERGE clauses ([[graft.io.DeltaInterop.mergeClauses]]
    * via SQL): ordered `WHEN MATCHED AND cond THEN UPDATE SET
    * <assignments over t-side and s-side columns>`, fallthrough
    * `WHEN MATCHED THEN DELETE`, and conditional `WHEN NOT MATCHED ...
    * INSERT (cols) VALUES (exprs)` — delta-spark's full clause surface,
    * against a source that half-overlaps the table keys. The oracle
    * replays each clause's row set analytically. */
  private[graft] def q168(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q168")
    graft.io.DeltaInterop.writeDelta(docs, tmp, Seq("lang"))            // v0
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    docs.filter(col("doc_id") % 4 < 2)                                  // matched half
      .unionByName(docs.select((col("doc_id") + mx + 1).as("doc_id"),  // fresh keys
        col("lang"), col("n_chars")))
      .createOrReplaceTempView("graft_q168_src")
    s.sql(
      s"""MERGE INTO delta.`$tmp` t USING graft_q168_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED AND s.n_chars % 2 = 0 THEN UPDATE SET n_chars = t.n_chars + s.n_chars
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED AND s.n_chars % 3 = 0
         |  THEN INSERT (doc_id, lang, n_chars) VALUES (s.doc_id, s.lang, s.n_chars * 2)
         |""".stripMargin)                                              // v1
    s.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars
         |FROM delta.`$tmp` GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** q169 — CONVERT TO DELTA ([[graft.io.DeltaInterop.convertToDelta]]
    * via SQL): a pre-existing Hive-partitioned PLAIN-parquet lake dir
    * becomes a Delta table in place (footer-stats adds, zero data
    * movement — file identity asserted), then mutates through the
    * normal gates (a SQL DELETE) and aggregates. The oracle replays the
    * delete analytically over the corpus. */
  private[graft] def q169(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q169") + "/lake"
    docs.write.partitionBy("lang").parquet(tmp)        // a PLAIN parquet lake
    val before = {
      val f = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def count(p: org.apache.hadoop.fs.Path): Int =
        f.listStatus(p).map { st =>
          if (st.isDirectory) count(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet")) 1 else 0
        }.sum
      count(new org.apache.hadoop.fs.Path(tmp))
    }
    s.sql(s"CONVERT TO DELTA parquet.`$tmp` PARTITIONED BY (lang)")   // v0
    val st = graft.io.DeltaInterop.state(s, tmp)
    require(st.files.length == before && st.files.forall(_.numRecords > 0),
      "convert must reference every existing file with footer stats, move none")
    s.sql(s"DELETE FROM delta.`$tmp` WHERE doc_id % 5 = 1")           // v1
    s.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars
         |FROM delta.`$tmp` GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** q170 — catalog NAMES for the whole Delta SQL surface (the
    * reference's Athena contract: users address `db.table` over a
    * shared catalog, never paths — `/root/reference/README.md:101-103`).
    * CTAS-by-name registers the table
    * ([[graft.io.DeltaInterop.registerCatalogTable]] — a catalog view
    * over the `graft_delta` TVF), then EVERY statement — DELETE,
    * MERGE, the final aggregate — addresses the NAME; the path never
    * appears after creation. The oracle replays the mutations
    * analytically. */
  private[graft] def q170(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q170") + "/t"
    s.sql("DROP VIEW IF EXISTS graft_q170_t") // rerunnable (bench warm pass)
    s.sql(
      s"""CREATE TABLE graft_q170_t USING delta PARTITIONED BY (lang)
         |LOCATION '$tmp'
         |AS SELECT doc_id, lang, n_chars FROM parquet.`$dir/documents.parquet`
         |""".stripMargin)                                            // v0
    s.sql("DELETE FROM graft_q170_t WHERE doc_id % 5 = 2")            // v1
    docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("lang"), (col("n_chars") + 777).as("n_chars"))
      .createOrReplaceTempView("graft_q170_src")
    s.sql(
      """MERGE INTO graft_q170_t t USING graft_q170_src s ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)               // v2
    s.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars
        |FROM graft_q170_t GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** q171 — `WHEN NOT MATCHED BY SOURCE` MERGE clauses (delta-spark
    * ≥2.3's full surface, [[graft.io.DeltaInterop.mergeClauses]]'
    * by-source arbitration): target rows with NO source match are
    * conditionally deleted or updated, ordered first-match-wins,
    * alongside a plain matched UPDATE. Scale shape: the by-source
    * clauses add ONE anti-join file probe; only files holding firing
    * rows rewrite. The oracle replays all three clauses analytically. */
  private[graft] def q171(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q171")
    graft.io.DeltaInterop.writeDelta(docs, tmp, Seq("lang"))          // v0
    docs.filter(col("doc_id") % 4 === 1)
      .createOrReplaceTempView("graft_q171_src")
    s.sql(
      s"""MERGE INTO delta.`$tmp` t USING graft_q171_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 11
         |WHEN NOT MATCHED BY SOURCE AND t.doc_id % 4 = 2 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE AND t.n_chars % 2 = 0
         |  THEN UPDATE SET n_chars = t.n_chars + 1000
         |""".stripMargin)                                            // v1
    s.sql(
      s"""SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars
         |FROM delta.`$tmp` GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** q172 — IDENTITY column lifecycle
    * ([[graft.io.DeltaInterop.writeDelta]] value generation): create a
    * table whose `row_id` is GENERATED AS IDENTITY (START 100 STEP 3),
    * append the corpus in two batches with NO row_id column, and verify
    * the engine-assigned values: one per row, all distinct, first value
    * exactly at START, every value step-aligned, and the second batch
    * strictly after the first (the high-water mark carried across
    * commits). Generation is one codegen'd projection per append — no
    * shuffle, no driver round trip — and the watermark comes from the
    * staged files' own footer stats. The oracle states the invariants'
    * expected values (the concrete ids are engine-assigned with
    * protocol-legal gaps, so invariants — not values — are the
    * deterministic surface). */
  private[graft] def q172(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q172")
    val idMeta = new MetadataBuilder()
      .putLong("delta.identity.start", 100L)
      .putLong("delta.identity.step", 3L).build()
    val schema = StructType(
      StructField("row_id", LongType, nullable = true, idMeta) +: docs.schema.fields)
    graft.io.DeltaInterop.writeDelta(
      s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema), tmp, Nil)                                            // v0: empty create
    graft.io.DeltaInterop.writeDelta(docs.filter(col("doc_id") % 2 === 0), tmp, Nil) // v1
    graft.io.DeltaInterop.writeDelta(docs.filter(col("doc_id") % 2 =!= 0), tmp, Nil) // v2
    val t = graft.io.DeltaInterop.readDelta(s, tmp)
    val hwm = graft.io.DeltaInterop.state(s, tmp).schema("row_id")
      .metadata.getLong("delta.identity.highWaterMark")
    val b1 = when(col("doc_id") % 2 === 0, col("row_id"))
    val b2 = when(col("doc_id") % 2 =!= 0, col("row_id"))
    t.agg(
      count(lit(1)).as("n_rows"),
      (countDistinct(col("row_id")) === count(lit(1))).as("ids_distinct"),
      min(b1).as("b1_min"),
      (count(when((col("row_id") - 100L) % 3L =!= 0, 1)) === 0).as("step_aligned"),
      (max(b1) < min(b2)).as("batches_ordered"),
      (max(col("row_id")) === lit(hwm)).as("hwm_is_max"))
  }

  /** q173 — FOREIGN Iceberg read ([[graft.io.IcebergInterop]]): the
    * corpus lands in a spec-shaped Iceberg v2 table (metadata.json,
    * Avro manifest list, Avro manifests, parquet data — built by the
    * fixture writer, NOT by the reader under test) in two append
    * snapshots; the latest snapshot and a time-traveled read of the
    * first join per-lang — the Athena-style two-epoch probe q167 runs
    * for Delta, here against the OTHER open table format a migrating
    * user may hold. The oracle derives both epochs from the corpus. */
  private[graft] def q173(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q173")
    val snap1 = graft.tools.IcebergFixture.append(
      docs.filter(col("doc_id") % 2 === 0), tmp)
    graft.tools.IcebergFixture.append(
      docs.filter(col("doc_id") % 2 =!= 0), tmp)
    val cur = graft.io.IcebergInterop.readIceberg(s, tmp)
      .groupBy("lang").agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
    val old = graft.io.IcebergInterop.readIceberg(s, tmp, Some(snap1))
      .groupBy("lang").agg(count(lit(1)).as("n_s1"), sum("n_chars").as("chars_s1"))
    cur.join(old, "lang")
      .select(col("lang"), col("n"), col("chars"), col("n_s1"), col("chars_s1"))
      .orderBy("lang")
  }

  /** q174 — Iceberg SCHEMA EVOLUTION read: the corpus lands in two
    * epochs with a rename + an added column between them. Old files
    * must resolve the RENAMED column by field id (a name-based read
    * would return nulls and a visibly-wrong char sum), the added
    * column is null exactly for the pre-add epoch, and time travel to
    * snapshot 1 reads with the schema it was committed under. The
    * oracle restates both epochs from the corpus. */
  private[graft] def q174(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q174")
    val snap1 = graft.tools.IcebergFixture.append(
      docs.filter(col("doc_id") % 2 === 0), tmp)
    graft.tools.IcebergFixture.renameColumn(s, tmp, "n_chars", "chars")
    graft.tools.IcebergFixture.addColumn(s, tmp, "epoch",
      org.apache.spark.sql.types.LongType)
    graft.tools.IcebergFixture.append(
      docs.filter(col("doc_id") % 2 =!= 0)
        .withColumnRenamed("n_chars", "chars").withColumn("epoch", lit(2L)), tmp)
    val cur = graft.io.IcebergInterop.readIceberg(s, tmp)
      .groupBy("lang").agg(
        count(lit(1)).as("n"),
        sum("chars").as("chars"),            // epoch-1 files: field-id resolution
        count(col("epoch")).as("n_epoch2"))  // null for every epoch-1 row
    val old = graft.io.IcebergInterop.readIceberg(s, tmp, Some(snap1))
      .groupBy("lang").agg(count(lit(1)).as("n_s1"),
        sum("n_chars").as("chars_s1"))       // the PRE-rename name
    cur.join(old, "lang")
      .select(col("lang"), col("n"), col("chars"), col("n_epoch2"),
        col("n_s1"), col("chars_s1"))
      .orderBy("lang")
  }

  /** q175 — CLUSTERED-table lifecycle (delta-spark's liquid-clustering
    * user contract, re-expressed): create from the corpus, CLUSTER BY
    * (lang, n_chars), append unclustered (the spec imposes no
    * write-time layout), plain OPTIMIZE clusters by the DECLARED
    * columns, a DV delete trims short docs, and the clustering domain
    * survives checkpoint + log cleanup becoming the only state source.
    * The final read must equal the corpus minus the deleted rows. */
  private[graft] def q175(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q175")
    graft.io.DeltaInterop.writeDelta(
      docs.filter(col("doc_id") % 3 =!= 0).repartition(4), tmp, Nil)
    graft.io.DeltaInterop.setClusteringColumns(s, tmp, Seq("lang", "n_chars"))
    graft.io.DeltaInterop.writeDelta(docs.filter(col("doc_id") % 3 === 0), tmp, Nil)
    graft.io.DeltaInterop.optimizeClustered(s, tmp)
    graft.io.DeltaInterop.deleteWhereDV(s, tmp, col("n_chars") < lit(100))
    graft.io.DeltaInterop.checkpoint(s, tmp)
    graft.io.DeltaInterop.cleanupLog(s, tmp)
    val st = graft.io.DeltaInterop.state(s, tmp)
    require(st.clusteringColumns == Seq("lang", "n_chars"),
      "clustering domain must survive checkpoint + cleanup")
    graft.io.DeltaInterop.readDelta(s, tmp)
      .groupBy("lang").agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
      .orderBy("lang")
  }

  /** q176 — Iceberg FILE-LEVEL data skipping: the corpus lands
    * range-partitioned by doc_id (disjoint per-file bounds in the
    * manifests), and a selective range read prunes files from the
    * MANIFEST bound maps before any parquet is touched — the Iceberg
    * analogue of the Delta zonemap read (q103). The residual row
    * filter re-applies in-plan, so the result equals the plain
    * filter the oracle states. */
  private[graft] def q176(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q176")
    graft.tools.IcebergFixture.append(
      docs.repartitionByRange(8, col("doc_id")), tmp)
    // the middle ~10% band of the key range, q156's integer arithmetic
    // (deterministic, restated by the oracle)
    val mm = docs.agg(min("doc_id"), max("doc_id")).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val lo = mn + 4L * ((mx - mn) / 10L)
    val hi = mn + 5L * ((mx - mn) / 10L)
    val t = graft.io.IcebergInterop.readIcebergWhere(s, tmp,
      Map("doc_id" -> ((lo.toDouble, hi.toDouble))))
    require(t.inputFiles.length < 8,
      s"manifest bounds must prune the 8-file scan, got ${t.inputFiles.length}")
    t.groupBy("lang").agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
      .orderBy("lang")
  }

  /** q177 — SQL FEDERATION: one statement joins a Delta table and a
    * foreign Iceberg table (the even / odd corpus halves), each read
    * through its own TVF-backed rewrite (`delta.`p`` / `iceberg.`p``)
    * with zero session state — the "query both lake formats from one
    * console" contract a migrating user actually needs. The oracle is
    * the equivalent DuckDB self-join of the corpus. */
  private[graft] def q177(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val dTmp = graft.io.TempDirs.scratch("graft-q177-delta")
    graft.io.DeltaInterop.writeDelta(docs.filter(col("doc_id") % 2 === 0), dTmp, Nil)
    val iTmp = graft.io.TempDirs.scratch("graft-q177-iceberg")
    graft.tools.IcebergFixture.append(docs.filter(col("doc_id") % 2 =!= 0), iTmp)
    s.sql(
      s"""SELECT d.lang AS lang, count(*) AS n,
         |  sum(d.n_chars + i.n_chars) AS chars
         |FROM delta.`$dTmp` d JOIN iceberg.`$iTmp` i
         |  ON i.doc_id = d.doc_id + 1
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin)
  }

  /** q179 — Iceberg MANIFEST-LEVEL skipping: the corpus lands
    * PARTITIONED by lang (identity transform — one manifest per
    * partition value, the manifest list carrying the spec's
    * field_summary bounds), and a single-lang read must open ONLY
    * that partition's manifests: the other langs' manifests drop on
    * their summaries before any Avro is read. At warehouse scale this
    * is the difference between driver metadata work proportional to
    * the TABLE (thousands of manifests) and to the MATCHING partition
    * — the Iceberg analogue of Delta partition pruning. The in-query
    * require asserts real skipping; the oracle restates the lang
    * slice from the corpus. */
  private[graft] def q179(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(
      col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q179")
    graft.tools.IcebergFixture.appendPartitioned(docs, tmp, "lang")
    val t = graft.io.IcebergInterop.readIcebergWhere(s, tmp, Map.empty,
      stringEq = Map("lang" -> "en"))
    val (read, skipped) = graft.io.IcebergInterop.lastManifestScan
    require(read == 1 && skipped >= 1,
      s"expected exactly the en manifest to open, got read=$read skipped=$skipped")
    t.groupBy("source").agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
      .orderBy("source")
  }

  /** q181 — Iceberg HIDDEN PARTITIONING, the day(ts) case (spec
    * "Partition Transforms"): the events stream lands partitioned by
    * `day(ts)` — one manifest per day, summaries carrying the
    * TRANSFORMED day ordinals — and a 3-day timestamp range opens
    * exactly 3 of the 30 day manifests: the query's micros range maps
    * through the monotone transform before any manifest Avro is read.
    * At warehouse scale this is the metadata-plane lever that keeps
    * driver work proportional to the days a query names, not the
    * table's lifetime. The residual ts filter uses TYPED literals
    * (micros→timestamp), so boundary micros stay exact. */
  private[graft] def q181(s: SparkSession, dir: String): DataFrame = {
    val events = T(s, dir, "events")
    val tmp = graft.io.TempDirs.scratch("graft-q181")
    graft.tools.IcebergFixture.appendPartitioned(events, tmp, "ts", "day")
    val lo = 19732L * 86400000000L      // 2024-01-10T00:00:00Z in micros
    val hi = 19735L * 86400000000L - 1  // last micro of 2024-01-12
    val t = graft.io.IcebergInterop.readIcebergWhere(s, tmp,
      Map("ts" -> ((lo.toDouble, hi.toDouble))))
    val (read, skipped) = graft.io.IcebergInterop.lastManifestScan
    require(read == 3 && skipped == 27,
      s"expected 3 of 30 day manifests to open, got read=$read skipped=$skipped")
    t.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"))
      .orderBy("event_type")
  }

  /** q182 — Iceberg HIDDEN PARTITIONING, the bucket(8, doc_id) case:
    * a point lookup hashes the literal with the spec's murmur3
    * (Appendix B vectors pinned in IcebergTransformsSpec) and opens
    * ONLY that bucket's manifest — the 100 TB point-read pattern where
    * metadata work is 1/N of the table no matter how big it grows.
    * File-level doc_id bounds then prune within the bucket. */
  private[graft] def q182(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q182")
    graft.tools.IcebergFixture.appendPartitioned(docs, tmp, "doc_id", "bucket[8]")
    val t = graft.io.IcebergInterop.readIcebergWhere(s, tmp,
      Map("doc_id" -> ((137.0, 137.0))))
    val (read, skipped) = graft.io.IcebergInterop.lastManifestScan
    require(read == 1 && skipped == 7,
      s"expected exactly doc 137's bucket manifest, got read=$read skipped=$skipped")
    t.select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")
  }

  /** q180 — row tracking THROUGH SQL, maintenance included: the table
    * is created, filled, enabled (`ALTER ... SET TBLPROPERTIES` —
    * the metadata-only backfill), mutated (`DELETE` auto-routes
    * merge-on-read), and OPTIMIZE'd entirely as SQL statements. The
    * OPTIMIZE is the round-trip payoff: it PURGES the delete's DV and
    * MATERIALIZES the surviving rows' original ids as physical
    * columns, which the emitted invariants verify from the files
    * themselves — every live file DV-free, materialized ids distinct
    * and exactly the survivors' ORIGINAL range (none of the compacted
    * add's fresh ids leak into the column), watermark = every id ever
    * assigned (N backfilled/appended + the compacted file's fresh
    * range). */
  private[graft] def q180(s: SparkSession, dir: String): DataFrame = {
    import graft.io.DeltaInterop
    val docsPath = s"$dir/documents.parquet"
    val tmp = graft.io.TempDirs.scratch("graft-q180") + "/t"
    s.sql(s"CREATE TABLE delta.`$tmp` (doc_id BIGINT, lang STRING, n_chars BIGINT) USING delta")
    s.sql(s"INSERT INTO delta.`$tmp` SELECT doc_id, lang, n_chars FROM " +
      s"parquet.`$docsPath` WHERE doc_id % 2 = 0")
    s.sql(s"ALTER TABLE delta.`$tmp` SET TBLPROPERTIES ('delta.enableRowTracking'='true')")
    s.sql(s"INSERT INTO delta.`$tmp` SELECT doc_id, lang, n_chars FROM " +
      s"parquet.`$docsPath` WHERE doc_id % 2 <> 0")
    s.sql(s"DELETE FROM delta.`$tmp` WHERE lang = 'de'")
    s.sql(s"OPTIMIZE delta.`$tmp`")
    val st = DeltaInterop.state(s, tmp)
    val n = s.read.parquet(docsPath).count()
    val dvPurged = st.files.forall(_.deletionVector == null)
    val ridCol = st.configuration("delta.rowTracking.materializedRowIdColumnName")
    val matIds = st.files.flatMap { a =>
      s.read.parquet(s"$tmp/${a.path}").select(ridCol)
        .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    }
    val hwm = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(st.domains(DeltaInterop.RowTrackingDomain))
      .path("rowIdHighWaterMark").asLong(-1L)
    val idsMaterialized = matIds.nonEmpty && !matIds.contains(-1L) &&
      matIds.distinct.length == matIds.length
    val idsOriginalRange = matIds.forall(id => id >= 0 && id < n)
    DeltaInterop.readDelta(s, tmp).agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .withColumn("hwm", lit(hwm))
      .withColumn("dv_purged", lit(dvPurged))
      .withColumn("ids_materialized", lit(idsMaterialized))
      .withColumn("ids_original_range", lit(idsOriginalRange))
  }

  /** q183 — SQL MERGE on a ROW-TRACKED table routes MERGE-ON-READ
    * (PROTOCOL.md "Row Tracking" under MERGE's clause arbitration):
    * matched rows DV-mask in place — their files keep their original
    * base row ids, and the unmodified neighbours never move files —
    * while postimage and inserted rows append as fresh files with
    * fresh ids past the watermark. This is the path delta-spark calls
    * "merge with deletion vectors"; copy-on-write MERGE would destroy
    * the ids of every untouched row it rewrites. The emitted surface:
    * logical rows/chars after the merge, the watermark (= N original
    * ids + U postimage + I inserted fresh ids), and file-level
    * invariants verified from the adds themselves. */
  private[graft] def q183(s: SparkSession, dir: String): DataFrame = {
    import graft.io.DeltaInterop
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q183") + "/t"
    DeltaInterop.writeDelta(docs, tmp, Nil)                            // v0
    s.sql(s"ALTER TABLE delta.`$tmp` SET TBLPROPERTIES " +
      "('delta.enableRowTracking'='true')")     // v1: backfill ids 0..N-1
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    docs.filter(col("lang") === "fr")                  // matched → update
      .select(col("doc_id"), col("lang"), (col("n_chars") + 1000L).as("n_chars"))
      .unionByName(docs.filter(col("lang") === "de")   // fresh keys → insert
        .select((col("doc_id") + mx + 1).as("doc_id"), col("lang"), col("n_chars")))
      .createOrReplaceTempView("graft_q183_src")
    s.sql(
      s"""MERGE INTO delta.`$tmp` t USING graft_q183_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
         |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
         |  VALUES (s.doc_id, s.lang, s.n_chars)
         |""".stripMargin)                           // v2: merge-on-read
    val st = DeltaInterop.state(s, tmp)
    val n = docs.count()
    val (orig, fresh) = st.files.partition(_.baseRowId.exists(_ < n))
    // fr rows were masked, not rewritten: some original file carries a
    // DV, and NO original file lost its pre-merge base id
    val morMasked = orig.nonEmpty && orig.exists(_.deletionVector != null)
    // postimages + inserts sit in fresh files: ids past the original
    // range, stamped with the merge's commit version
    val freshIds = fresh.nonEmpty &&
      fresh.forall(a => a.baseRowId.exists(_ >= n) &&
        a.defaultRowCommitVersion.contains(st.version))
    val hwm = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(st.domains(DeltaInterop.RowTrackingDomain))
      .path("rowIdHighWaterMark").asLong(-1L)
    DeltaInterop.readDelta(s, tmp).agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .withColumn("hwm", lit(hwm))
      .withColumn("mor_masked", lit(morMasked))
      .withColumn("fresh_ids", lit(freshIds))
  }

  /** q184 — UNIFORM lifecycle (PROTOCOL.md "Iceberg Compatibility",
    * iceberg.apache.org/spec/): a Delta table that maintains Iceberg
    * metadata on every commit, so the SAME files read through two
    * independent metadata planes. The corpus' even half lands plain,
    * `ALTER TABLE SET TBLPROPERTIES` enables uniform (column-mapping
    * upgrade + field-id rewrite + first Iceberg snapshot), the odd
    * half INSERTs (an INCREMENTAL Iceberg append — prior manifests
    * carried by reference), a copy-on-write DELETE rewrites the
    * snapshot, and a RENAME evolves the Iceberg schema metadata-only
    * (field-id column resolution keeps every pre-rename file
    * readable). The emitted aggregate comes from the ICEBERG read
    * path under the POST-RENAME name; invariants verify the Delta
    * read matches and the snapshot/manifest counts are the
    * incremental shape. */
  private[graft] def q184(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{DeltaInterop, IcebergInterop, IcebergUniform}
    val docsPath = s"$dir/documents.parquet"
    val tmp = graft.io.TempDirs.scratch("graft-q184") + "/t"
    s.sql(s"CREATE TABLE delta.`$tmp` (doc_id BIGINT, lang STRING, n_chars BIGINT) USING delta")
    s.sql(s"INSERT INTO delta.`$tmp` SELECT doc_id, lang, n_chars FROM " +
      s"parquet.`$docsPath` WHERE doc_id % 2 = 0")
    s.sql(s"ALTER TABLE delta.`$tmp` SET TBLPROPERTIES " +
      s"('${IcebergUniform.EnabledFormatsKey}'='iceberg')") // snapshot 1
    s.sql(s"INSERT INTO delta.`$tmp` SELECT doc_id, lang, n_chars FROM " +
      s"parquet.`$docsPath` WHERE doc_id % 2 <> 0")         // snapshot 2
    s.sql(s"DELETE FROM delta.`$tmp` WHERE lang = 'de'")    // snapshot 3
    DeltaInterop.renameColumn(s, tmp, "n_chars", "chars")   // metadata-only
    val ice = IcebergInterop.readIceberg(s, tmp)
    val delta = DeltaInterop.readDelta(s, tmp)
    val pathsMatch = delta.count() == ice.count() &&
      delta.agg(sum(col("chars"))).head().getLong(0) ==
        ice.agg(sum(col("chars"))).head().getLong(0) &&
      ice.columns.toSeq == Seq("doc_id", "lang", "chars")
    val nSnapshots = IcebergInterop.snapshots(s, tmp).count()
    val f = new org.apache.hadoop.fs.Path(tmp).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    // enable rewrite (1) + incremental insert (1) + delete rewrite (1):
    // the insert did NOT rewrite prior manifests
    val nManifests = f.listStatus(new org.apache.hadoop.fs.Path(tmp, "metadata"))
      .map(_.getPath.getName)
      .count(n0 => n0.startsWith("uniform-m") && n0.endsWith(".avro"))
    ice.agg(
      count(lit(1)).as("n_rows"),
      sum(col("chars")).cast("long").as("sum_chars"))
      .withColumn("n_snapshots", lit(nSnapshots))
      .withColumn("incremental_manifests", lit(nManifests == 3L))
      .withColumn("two_paths_match", lit(pathsMatch))
  }

  /** q185 — PARTITIONED UniForm: a lang-partitioned Delta table whose
    * Iceberg mirror stays correct because partition values
    * MATERIALIZE into the data files (icebergCompatV2's
    * partitioned-write obligation — Delta files normally carry
    * partition values only in directory paths and the log, which an
    * Iceberg reader never consults). Enable rewrites the partitions,
    * an append adds one, a copy-on-write DELETE drops one, and the
    * emitted per-lang aggregate comes from the ICEBERG read path —
    * values that can only be right if the rewrite, the staged append,
    * and the delete's rewrite all materialized the partition column. */
  private[graft] def q185(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{DeltaInterop, IcebergInterop}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q185") + "/t"
    DeltaInterop.writeDelta(docs.filter(col("lang") =!= "fr"), tmp, Seq("lang"))
    DeltaInterop.enableUniform(s, tmp)
    DeltaInterop.writeDelta(docs.filter(col("lang") === "fr"), tmp, Seq("lang"))
    s.sql(s"DELETE FROM delta.`$tmp` WHERE lang = 'de'")
    val ice = IcebergInterop.readIceberg(s, tmp)
    val delta = DeltaInterop.readDelta(s, tmp)
    val pathsMatch = delta.count() == ice.count() &&
      delta.agg(sum(col("n_chars"))).head().getLong(0) ==
        ice.agg(sum(col("n_chars"))).head().getLong(0)
    ice.groupBy(col("lang")).agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .withColumn("two_paths_match", lit(pathsMatch))
  }

  /** q186 — Iceberg FORMAT-VERSION 3 deletion vectors
    * (iceberg.apache.org/spec/ "Deletion vectors", Puffin
    * `deletion-vector-v1`): the corpus' even half lands as one sorted
    * data file, the odd half as another, then a v3 DV snapshot masks
    * the first 100 row ordinals of the even file — i.e. the 100
    * smallest even doc_ids, which the DuckDB oracle reproduces
    * relationally. The masking applies as the same codegen
    * broadcast-bitmap filter the Delta DV reads use (the two formats
    * share the portable roaring serialization by design) — no join,
    * positions never become rows. */
  private[graft] def q186(s: SparkSession, dir: String): DataFrame = {
    import graft.io.IcebergInterop
    import graft.tools.IcebergFixture
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q186") + "/t"
    IcebergFixture.append(docs.filter(col("doc_id") % 2 === 0)
      .repartition(1).sortWithinPartitions("doc_id"), tmp)
    val evenFile = {
      val f = new org.apache.hadoop.fs.Path(tmp).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      f.listStatus(new org.apache.hadoop.fs.Path(tmp, "data"))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    }
    IcebergFixture.append(docs.filter(col("doc_id") % 2 =!= 0)
      .repartition(1).sortWithinPartitions("doc_id"), tmp)
    IcebergFixture.deleteVectors(s, tmp,
      Seq((evenFile, (0L until 100L).toArray)))
    val ice = IcebergInterop.readIceberg(s, tmp)
    val dvApplied = docs.count() - ice.count() == 100L
    ice.agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .withColumn("dv_applied", lit(dvApplied))
  }

  /** q187 — Iceberg v3 ROW LINEAGE (iceberg.apache.org/spec/ "Row
    * Lineage"): every data file's manifest entry carries
    * `first_row_id` ranged from the table's `next-row-id` watermark,
    * and a row's stable `_row_id` is first_row_id + its position —
    * attached in-plan via one broadcast path→first_row_id join BEFORE
    * deletion-vector masking, so DV survivors keep their original
    * ids. Sorted single-file appends make the id assignment
    * relationally reproducible: evens rank 0..nE-1, odds continue at
    * nE, the DV masks lineage ids 0..99, and the oracle re-derives
    * the surviving id sum with window functions. */
  private[graft] def q187(s: SparkSession, dir: String): DataFrame = {
    import graft.io.IcebergInterop
    import graft.tools.IcebergFixture
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q187") + "/t"
    IcebergFixture.append(docs.filter(col("doc_id") % 2 === 0)
      .repartition(1).sortWithinPartitions("doc_id"), tmp, lineage = true)
    val evenFile = {
      val f = new org.apache.hadoop.fs.Path(tmp).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      f.listStatus(new org.apache.hadoop.fs.Path(tmp, "data"))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    }
    IcebergFixture.append(docs.filter(col("doc_id") % 2 =!= 0)
      .repartition(1).sortWithinPartitions("doc_id"), tmp, lineage = true)
    IcebergFixture.deleteVectors(s, tmp,
      Seq((evenFile, (0L until 100L).toArray)))
    IcebergInterop.readIceberg(s, tmp, withLineage = true).agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"),
      sum(col("_row_id")).cast("long").as("sum_row_id"))
  }

  /** q188 — protocol DOWNGRADE lifecycle (PROTOCOL.md feature
    * removal, delta-spark's REORG PURGE + ALTER TABLE DROP FEATURE):
    * a merge-on-read DELETE puts live deletion vectors on the corpus,
    * REORG PURGE rewrites exactly the DV-carrying files with the
    * masks applied (dataChange=false), and `DROP FEATURE
    * deletionVectors TRUNCATE HISTORY` shrinks the protocol and drops
    * the log prefix so no retained action carries the removed
    * feature. The emitted aggregate proves the purge preserved the
    * logical rows; the booleans verify the downgrade and the
    * truncation from the log itself. */
  private[graft] def q188(s: SparkSession, dir: String): DataFrame = {
    import graft.io.DeltaInterop
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q188") + "/t"
    DeltaInterop.writeDelta(docs, tmp, Nil)
    DeltaInterop.deleteWhereDV(s, tmp, col("lang") === "de")
    DeltaInterop.reorgPurge(s, tmp)
    s.sql(s"ALTER TABLE delta.`$tmp` DROP FEATURE deletionVectors TRUNCATE HISTORY")
    val st = DeltaInterop.state(s, tmp)
    val dropped = !st.protocol.impliedReaderFeatures.contains("deletionVectors") &&
      !st.protocol.impliedWriterFeatures.contains("deletionVectors")
    val dvFree = st.files.forall(_.deletionVector == null)
    val f = new org.apache.hadoop.fs.Path(tmp).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    val truncated = f.listStatus(new org.apache.hadoop.fs.Path(tmp, "_delta_log"))
      .map(_.getPath.getName).filter(_.matches("^\\d+\\.json$"))
      .map(_.stripSuffix(".json").toLong).min == st.version
    DeltaInterop.readDelta(s, tmp).agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .withColumn("feature_dropped", lit(dropped))
      .withColumn("dv_free", lit(dvFree))
      .withColumn("history_truncated", lit(truncated))
  }

  /** q189 — column DEFAULT values (the allowColumnDefaults writer
    * feature, Spark/delta's CURRENT_DEFAULT field-metadata encoding),
    * exercised as SQL end-to-end: the even half inserts while `lang`
    * defaults to 'und', `ALTER COLUMN ... SET DEFAULT` flips it, and
    * the odd half lands as 'xx' — proving defaults fill at insert
    * time (never rewriting history) and that explicit columns always
    * win. */
  private[graft] def q189(s: SparkSession, dir: String): DataFrame = {
    import graft.io.DeltaInterop
    val docsPath = s"$dir/documents.parquet"
    val tmp = graft.io.TempDirs.scratch("graft-q189") + "/t"
    s.sql(s"CREATE TABLE delta.`$tmp` (doc_id BIGINT, lang STRING DEFAULT 'und', " +
      "n_chars BIGINT DEFAULT 0) USING delta")
    s.sql(s"INSERT INTO delta.`$tmp` (doc_id, n_chars) SELECT doc_id, n_chars " +
      s"FROM parquet.`$docsPath` WHERE doc_id % 2 = 0")
    s.sql(s"ALTER TABLE delta.`$tmp` ALTER COLUMN lang SET DEFAULT 'xx'")
    s.sql(s"INSERT INTO delta.`$tmp` (doc_id, n_chars) SELECT doc_id, n_chars " +
      s"FROM parquet.`$docsPath` WHERE doc_id % 2 <> 0")
    DeltaInterop.readDelta(s, tmp).groupBy(col("lang")).agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
  }

  /** q178 — Delta ROW TRACKING lifecycle (PROTOCOL.md "Row
    * Tracking"): the corpus' even half lands plain, enablement
    * BACKFILLS row ids metadata-only, the odd half appends with fresh
    * ids, then a DELETE and an UPDATE exercise the merge-on-read
    * routing row-tracked tables force (DV'd originals keep their ids;
    * postimage files take fresh ones past the watermark). The emitted
    * surface is the deterministic part: logical row count and char
    * sum after the ops, the watermark (= every id ever assigned:
    * N rows + U update-rewritten rows), and driver-verified id
    * invariants — all files carry ids, id ranges never overlap, and
    * exactly the update's rows sit in fresh postimage ranges. The ids
    * themselves depend on file split boundaries, so the INVARIANTS
    * are the portable contract, mirroring q172's identity surface. */
  private[graft] def q178(s: SparkSession, dir: String): DataFrame = {
    import graft.io.DeltaInterop
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q178")
    DeltaInterop.writeDelta(docs.filter(col("doc_id") % 2 === 0), tmp, Nil)
    DeltaInterop.setTableProperties(s, tmp,
      Map("delta.enableRowTracking" -> "true")) // backfill: ids 0..nEven-1
    DeltaInterop.writeDelta(docs.filter(col("doc_id") % 2 =!= 0), tmp, Nil)
    DeltaInterop.deleteWhere(s, tmp, col("lang") === "de")   // routes to DVs
    val (vUpd, _) = DeltaInterop.updateWhere(s, tmp, col("lang") === "fr",
      Map("n_chars" -> (col("n_chars") + lit(1000L))))       // routes to DVs
    val st = DeltaInterop.state(s, tmp)
    val hwm = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(st.domains(DeltaInterop.RowTrackingDomain))
      .path("rowIdHighWaterMark").asLong(-1L)
    val n = docs.count()
    val u = docs.filter(col("lang") === "fr").count()
    val idsAssigned = st.files.forall(_.baseRowId.isDefined)
    val ranges = st.files.map(a => (a.baseRowId.getOrElse(-1L), a.numRecords))
      .sortBy(_._1)
    val disjoint = ranges.sliding(2).forall {
      case Seq((b1, n1), (b2, _)) => b2 >= b1 + n1
      case _ => true
    }
    // the update's postimage files: committed at vUpd, based past the
    // pre-update watermark (every pre-existing id is < n), and holding
    // exactly the u rewritten rows
    val post = st.files.filter(_.defaultRowCommitVersion.contains(vUpd))
    val freshUpdateIds = post.map(_.numRecords).sum == u &&
      post.forall(_.baseRowId.exists(_ >= n))
    DeltaInterop.readDelta(s, tmp).agg(
      count(lit(1)).as("n_rows"),
      sum(col("n_chars")).cast("long").as("sum_chars"))
      .withColumn("hwm", lit(hwm)) // oracle recomputes n + u - 1
      .withColumn("ids_assigned", lit(idsAssigned))
      .withColumn("ranges_disjoint", lit(disjoint))
      .withColumn("fresh_update_ids", lit(freshUpdateIds))
  }

  /** q190 — NATIVE Iceberg WRITES ([[graft.io.IcebergWrite]]): the
    * doc_id%3==0 slice CREATES the table, %3==1 APPENDS, then an
    * OVERWRITE replaces the contents with the 'en' slice (+7 chars) —
    * and everything reads back through the FOREIGN-read path
    * ([[graft.io.IcebergInterop]]), proving the writer emits the
    * published spec: final state, snapshot TIME TRAVEL to the
    * pre-overwrite snapshot, and the 3-operation history, all
    * replayed analytically by DuckDB. */
  private[graft] def q190(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q190")
    graft.io.IcebergWrite.append(docs.filter(col("doc_id") % 3 === 0), tmp)
    val s2 = graft.io.IcebergWrite.append(docs.filter(col("doc_id") % 3 === 1), tmp)
    graft.io.IcebergWrite.overwrite(
      docs.filter(col("lang") === "en")
        .withColumn("n_chars", col("n_chars") + 7L), tmp)
    val hist = graft.io.IcebergInterop.snapshots(s, tmp)
      .orderBy("sequence_number").collect()
    require(hist.length == 3 &&
      hist.map(_.getString(3)).toSeq == Seq("append", "append", "overwrite"),
      s"history must record the 3 operations, got ${hist.map(_.getString(3)).toSeq}")
    val fin = graft.io.IcebergInterop.readIceberg(s, tmp)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
    val pre = graft.io.IcebergInterop.readIceberg(s, tmp, Some(s2))
      .agg(count(lit(1)).as("n_pre"),
        sum(col("n_chars")).cast("long").as("chars_pre"))
    fin.crossJoin(pre)
  }

  /** q191 — STREAMING Iceberg SOURCE ([[graft.streaming.IcebergSource]],
    * `readStream.format("graft-iceberg")`): the doc_id%3==0 slice lands
    * FIRST (the stream-origin snapshot), the stream starts with a
    * 2-file rate limit, then the %3==1 and %3==2 slices APPEND while it
    * runs — the tailer consumes their snapshots incrementally in
    * sequence order. Per-batch partial aggregates fold per lang and
    * must SUM to exactly the whole corpus: streamed ≡ batch,
    * hash-proven against the plain DuckDB aggregate. The rate limit
    * must cut ≥2 micro-batches (asserted), so admission control — not
    * one catch-all batch — is what's being graded. */
  private[graft] def q191(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q191")
    graft.io.IcebergWrite.append(
      docs.filter(col("doc_id") % 3 === 0).repartition(4), tmp)
    val buf = scala.collection.mutable.ListBuffer.empty[(String, Long, Long)]
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = s.readStream.format("graft-iceberg")
      .option("maxFilesPerTrigger", "2").load(tmp)
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (b0: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = graft.streaming.BatchTuning.rightSize(b0.toDF())
        val rows = b.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        if (rows.nonEmpty) {
          batches.incrementAndGet()
          buf.synchronized { buf ++= rows }
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      graft.io.IcebergWrite.append(
        docs.filter(col("doc_id") % 3 === 1).repartition(3), tmp)
      graft.io.IcebergWrite.append(
        docs.filter(col("doc_id") % 3 === 2).repartition(3), tmp)
      q.processAllAvailable()
    } finally q.stop()
    require(batches.get >= 2,
      s"rate limit should cut >=2 micro-batches, saw ${batches.get}")
    import s.implicits._
    buf.synchronized(buf.toList).toDF("lang", "n0", "chars0")
      .groupBy(col("lang"))
      .agg(sum(col("n0")).as("n"), sum(col("chars0")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q192 — STREAMING Iceberg SINK ([[graft.streaming.IcebergStream]] /
    * [[graft.io.IcebergWrite.appendOnce]]): the corpus lands in a
    * Delta table, a graft-delta STREAM tails it under a rate limit,
    * and every micro-batch commits as one exactly-once Iceberg
    * snapshot (txn ledger in the snapshot summaries) — lake-to-lake
    * MIRRORING as a stream, the composition a format migration
    * actually runs. The mirrored table reads back through the foreign
    * Iceberg path; per-lang aggregates must equal the plain corpus
    * aggregate (hash-proven), with >=2 snapshots asserting the rate
    * limit really cut batches. */
  private[graft] def q192(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q192")
    val deltaDir = s"$tmp/delta"
    val iceDir = s"$tmp/iceberg"
    graft.io.DeltaInterop.writeDelta(docs.repartition(4), deltaDir, Nil)
    val q = graft.streaming.IcebergStream.sink(s,
      s.readStream.format("graft-delta")
        .option("maxFilesPerTrigger", "2").load(deltaDir),
      iceDir, "graft-q192", s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()
    val snaps = graft.io.IcebergInterop.snapshots(s, iceDir).count()
    require(snaps >= 2,
      s"rate-limited mirroring must land >=2 Iceberg snapshots, got $snaps")
    graft.io.IcebergInterop.readIceberg(s, iceDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q193 — PARTITIONED native Iceberg writes
    * ([[graft.io.IcebergWrite.appendPartitioned]], identity
    * transform): the corpus lands partitioned by lang — one manifest
    * per partition value, field summaries in the manifest list — and
    * a single-lang read of the GRAFT-WRITTEN table opens exactly that
    * partition's manifest (q179's contract, now for tables this
    * engine writes, not just reads). A second partitioned append
    * proves summaries survive commit carry-forward. The oracle
    * restates the lang slice from the corpus. */
  private[graft] def q193(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(
      col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q193")
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val mid = mn + (mx - mn) / 2
    graft.io.IcebergWrite.appendPartitioned(
      docs.filter(col("doc_id") <= mid), tmp, "lang")
    graft.io.IcebergWrite.appendPartitioned(
      docs.filter(col("doc_id") > mid), tmp, "lang")
    val t = graft.io.IcebergInterop.readIcebergWhere(s, tmp, Map.empty,
      stringEq = Map("lang" -> "en"))
    val (read, skipped) = graft.io.IcebergInterop.lastManifestScan
    require(read == 2 && skipped >= 2,
      s"expected exactly the two en manifests to open, got read=$read skipped=$skipped")
    t.groupBy("source").agg(count(lit(1)).as("n"),
      sum(col("n_chars")).cast("long").as("chars"))
      .orderBy("source")
  }

  /** q194 — ROW-LEVEL DELETE on a NATIVE Iceberg table
    * ([[graft.io.IcebergWrite.deleteWhere]], merge-on-read position
    * deletes): the corpus lands range-partitioned by doc_id, a
    * stats-pruned DELETE masks the low band (no data file rewrites —
    * asserted: the data file set is unchanged), a SECOND delete
    * composes on the masked view (re-deletion structurally
    * impossible), and time travel still reads the pre-delete corpus.
    * This is the GDPR path for an Iceberg-first warehouse: work is
    * O(deleted rows), and any spec reader (including this repo's own
    * foreign-read path, which is how the result is verified) applies
    * the masks in-plan. */
  private[graft] def q194(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q194")
    val s1 = graft.io.IcebergWrite.append(
      docs.repartitionByRange(6, col("doc_id")), tmp)
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 5
    def dataFiles() = graft.io.IcebergInterop.readIceberg(s, tmp)
      .inputFiles.count(p => !p.contains("/data/delete-"))
    val dataFiles0 = if (checks) dataFiles() else 0
    val (_, del1) = graft.io.IcebergWrite.deleteWhere(s, tmp,
      col("doc_id") < k, ranges = Map("doc_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(del1 > 0, "first delete must hit")
    val (_, del2) = graft.io.IcebergWrite.deleteWhere(s, tmp,
      col("doc_id") % 7 === 3)
    require(del2 > 0, "second delete must hit")
    val t = graft.io.IcebergInterop.readIceberg(s, tmp)
    if (checks) {
      val dataFiles1 = dataFiles()
      require(dataFiles1 == dataFiles0,
        s"merge-on-read must not rewrite data files: $dataFiles0 -> $dataFiles1")
      require(graft.io.IcebergInterop.readIceberg(s, tmp, Some(s1)).count() == docs.count(),
        "time travel must still see the pre-delete corpus")
    }
    t.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q195 — SCHEMA EVOLUTION on a GRAFT-WRITTEN native Iceberg table
    * ([[graft.io.IcebergWrite.addColumn]]/[[graft.io.IcebergWrite.renameColumn]],
    * both metadata-only — zero files rewritten, asserted): the even
    * corpus half lands, `n_chars` renames to `chars` (the field keeps
    * its id, so the OLD files keep reading), a fresh-id `quality`
    * column adds (pre-add files surface NULL), and the odd half
    * appends CARRYING both evolved columns — one unified read across
    * both epochs, q165's Delta contract on the native Iceberg plane.
    * The oracle replays the two epochs analytically. */
  private[graft] def q195(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q195")
    graft.io.IcebergWrite.append(docs.filter(col("doc_id") % 2 === 0), tmp)
    val files0 =
      if (checks) graft.io.IcebergInterop.readIceberg(s, tmp).inputFiles.toSet
      else Set.empty[String]
    graft.io.IcebergWrite.renameColumn(s, tmp, "n_chars", "chars")
    graft.io.IcebergWrite.addColumn(s, tmp, "quality",
      org.apache.spark.sql.types.LongType)
    if (checks) require((files0 -- graft.io.IcebergInterop.readIceberg(s, tmp)
      .inputFiles.toSet).isEmpty,
      "schema evolution must be metadata-only: zero files rewritten")
    graft.io.IcebergWrite.append(
      docs.filter(col("doc_id") % 2 =!= 0).select(
        col("doc_id"), col("lang"), col("n_chars").as("chars"),
        (col("n_chars") % 100).cast("long").as("quality")), tmp)
    graft.io.IcebergInterop.readIceberg(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("chars")).cast("long").as("chars"),
        sum(col("quality")).cast("long").as("quality"))
      .orderBy(col("lang"))
  }

  /** q203 — Iceberg METADATA TABLES
    * ([[graft.io.IcebergInterop.partitionsTable]]/[[graft.io.IcebergInterop.filesTable]],
    * the `t.partitions`/`t.files` ops surface): the corpus lands
    * lang-partitioned in two graft appends, and the per-partition row
    * counts come ENTIRELY from manifest metadata — no data file is
    * scanned (the per-value manifests' exact summaries + entry
    * record_counts ARE the answer) — yet must hash-match DuckDB's
    * data-derived GROUP BY. At 100 TB this is "how big is each
    * partition" at metadata cost; the files table cross-checks that
    * manifest record_counts sum to the corpus. */
  private[graft] def q203(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q203")
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    graft.io.IcebergWrite.appendPartitioned(
      docs.filter(col("doc_id") <= mid), tmp, "lang")
    graft.io.IcebergWrite.appendPartitioned(
      docs.filter(col("doc_id") > mid), tmp, "lang")
    if (checks) {
      val ft = graft.io.IcebergInterop.filesTable(s, tmp)
      require(ft.filter(col("content") === 0)
        .agg(sum(col("record_count"))).head().getLong(0) == docs.count(),
        "files-table record counts must sum to the corpus")
    }
    val pt = graft.io.IcebergInterop.partitionsTable(s, tmp)
    if (checks) require(
      pt.agg(sum(col("manifest_count"))).head().getLong(0) >= 2,
      "two partitioned appends leave >=2 manifests")
    pt.select(col("partition").as("lang"), col("record_count").as("n"))
      .orderBy(col("lang"))
  }

  /** q202 — SNAPSHOT ROLLBACK on a NATIVE Iceberg table
    * ([[graft.io.IcebergWrite.rollbackTo]], Iceberg's
    * `rollback_to_snapshot`, spelled as SQL `RESTORE iceberg.`p` TO
    * SNAPSHOT AS OF n`): the even half lands (s1), the odd half
    * appends, a DELETE masks the low band — then the table ROLLS BACK
    * to s1 as one metadata-only commit (zero file work, asserted; the
    * rolled-past snapshots stay time-travelable, asserted) and a
    * post-rollback append (+9 chars odds) lands on the restored
    * state. q162's Delta RESTORE contract on the Iceberg plane;
    * DuckDB replays the end state analytically. */
  private[graft] def q202(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q202")
    val s1 = graft.io.IcebergWrite.append(
      docs.filter(col("doc_id") % 2 === 0).repartitionByRange(3, col("doc_id")), tmp)
    graft.io.IcebergWrite.append(docs.filter(col("doc_id") % 2 =!= 0), tmp)
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val (delSnap, nDel) = graft.io.IcebergWrite.deleteWhere(s, tmp,
      col("doc_id") < mn + (mx - mn) / 2)
    require(nDel > 0, "the delete must hit before the rollback discards it")
    val dataBefore = new java.io.File(s"$tmp/data").list().length
    val rolled = s.sql(s"RESTORE iceberg.`$tmp` TO SNAPSHOT AS OF $s1")
      .head().getLong(0)
    require(new java.io.File(s"$tmp/data").list().length == dataBefore,
      "rollback is metadata-only: zero file work")
    if (checks) {
      val nEven = docs.filter(col("doc_id") % 2 === 0).count()
      require(graft.io.IcebergInterop.readIceberg(s, tmp).count() == nEven,
        "the table reads as its s1 state after the rollback")
      require(graft.io.IcebergInterop.snapshots(s, tmp)
        .filter(col("operation") === "rollback").count() == 1)
      require(graft.io.IcebergInterop.readIceberg(s, tmp, Some(delSnap)).count()
        == docs.count() - nDel, "rolled-past snapshots stay time-travelable")
    }
    require(rolled != s1, "the rollback is a NEW auditable snapshot")
    graft.io.IcebergWrite.append(
      docs.filter(col("doc_id") % 2 =!= 0)
        .withColumn("n_chars", col("n_chars") + 9L), tmp)
    graft.io.IcebergInterop.readIceberg(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q201 — v3 DELETION-VECTOR deletes on a NATIVE Iceberg table
    * ([[graft.io.IcebergWrite.deleteWhereDV]]): the corpus lands
    * range-partitioned, a stats-pruned DV delete masks the low band —
    * per-file Puffin roaring blobs folded DISTRIBUTED (the driver sees
    * one KB blob per touched file, never a position), the table
    * upgrades to format-version 3 — then a second DV delete on the
    * masked view REPLACES the shared files' DVs with the spec's
    * superset union. Zero data-file rewrites and zero parquet delete
    * files (both asserted — the masks apply via the codegen
    * broadcast-bitmap filter, q186's read path against our own
    * writer); time travel still reads the pre-delete corpus. DuckDB
    * replays the surviving bands analytically. */
  private[graft] def q201(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q201")
    val s1 = graft.io.IcebergWrite.append(
      docs.repartitionByRange(6, col("doc_id")), tmp)
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 6
    def dataFiles() = graft.io.IcebergInterop.readIceberg(s, tmp)
      .inputFiles.filterNot(_.contains("delete-")).toSet
    val files0 = if (checks) dataFiles() else Set.empty[String]
    val (_, d1) = graft.io.IcebergWrite.deleteWhereDV(s, tmp,
      col("doc_id") < k, ranges = Map("doc_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(d1 > 0, "the DV delete must hit the low band")
    val (_, d2) = graft.io.IcebergWrite.deleteWhereDV(s, tmp,
      col("doc_id") % 11 === 7)
    require(d2 > 0, "the second DV delete must hit")
    val t = graft.io.IcebergInterop.readIceberg(s, tmp)
    require(new java.io.File(s"$tmp/data").list().exists(_.endsWith(".puffin")),
      "the DVs live in a Puffin file")
    if (checks) {
      require(dataFiles() == files0,
        "DV deletes must not rewrite or add any data parquet")
      require(!t.inputFiles.exists(_.contains("delete-")),
        "the masks are Puffin bitmaps — no delete file joins the scan")
      require(graft.io.IcebergInterop.readIceberg(s, tmp, Some(s1)).count()
        == docs.count(), "time travel must still see the pre-delete corpus")
    }
    t.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q200 — EQUALITY-DELETE authoring on a NATIVE Iceberg table
    * ([[graft.io.IcebergWrite.equalityDelete]]): the even corpus half
    * lands, an equality delete masks every %10==0 key — O(|keys|),
    * ZERO table scan, zero data-file work (asserted) — then the odd
    * half appends and the deleted keys RE-APPEND (+5000 chars): the
    * spec's strictly-below-sequence rule means only the pre-delete
    * rows mask while the re-appends survive (the read spec's survival
    * case, now against graft's own writer). A final [[IcebergWrite.compact]]
    * folds the equality delete physically with the aggregate unchanged.
    * DuckDB replays the lifecycle analytically. */
  private[graft] def q200(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q200")
    graft.io.IcebergWrite.append(
      docs.filter(col("doc_id") % 2 === 0).repartitionByRange(3, col("doc_id")), tmp)
    def dataFiles() = graft.io.IcebergInterop.readIceberg(s, tmp)
      .inputFiles.filterNot(_.contains("/data/eqdelete-")).toSet
    val files0 = if (checks) dataFiles() else Set.empty[String]
    val (_, nk) = graft.io.IcebergWrite.equalityDelete(s, tmp,
      docs.filter(col("doc_id") % 10 === 0).select(col("doc_id")))
    require(nk > 0, "the %10 keys must land in the delete file")
    if (checks) {
      val nEven = docs.filter(col("doc_id") % 2 === 0).count()
      val nTen = docs.filter(col("doc_id") % 10 === 0).count()
      require(nk == nTen, "every %10 key lands in the delete file")
      require(graft.io.IcebergInterop.readIceberg(s, tmp).count() == nEven - nTen,
        "the equality delete must mask exactly the %10 band")
      require(dataFiles() == files0,
        "an equality delete is O(|keys|): zero data-file work")
    }
    graft.io.IcebergWrite.append(
      docs.filter(col("doc_id") % 2 =!= 0), tmp)
    graft.io.IcebergWrite.append(
      docs.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 5000L), tmp)
    if (checks) {
      val total = docs.count()
      require(graft.io.IcebergInterop.readIceberg(s, tmp).count() == total,
        "re-appended keys survive the older equality delete")
    }
    // compaction folds the equality delete physically, result unchanged
    graft.io.IcebergWrite.compact(s, tmp)
    val t = graft.io.IcebergInterop.readIceberg(s, tmp)
    if (checks) require(
      t.count() == docs.count() && !t.inputFiles.exists(_.contains("/data/eqdelete-")),
      "compact must fold the equality delete")
    t.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q199 — HIDDEN-TRANSFORM partitioned Iceberg WRITES
    * ([[graft.io.IcebergWrite.appendPartitioned]] with `bucket[8]`,
    * the spec's murmur3 computed by the codegen
    * [[graft.functions.expressions.IcebergPartitionValue]]): the
    * corpus lands bucket-partitioned BY GRAFT, a point read of the min
    * doc opens exactly ONE bucket manifest (q182's read-path assert,
    * now against graft's own writes), and the table round-trips
    * through the `graft-iceberg` STREAMING source — origin snapshot +
    * a tailed second bucket append must re-emit the whole corpus
    * exactly once. The oracle restates the point row + corpus totals. */
  private[graft] def q199(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q199")
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val mid = mn + (mx - mn) / 2
    graft.io.IcebergWrite.appendPartitioned(
      docs.filter(col("doc_id") <= mid), tmp, "doc_id", "bucket[8]")
    val pt = graft.io.IcebergInterop.readIcebergWhere(s, tmp,
      Map("doc_id" -> ((mn.toDouble, mn.toDouble))))
      .filter(col("doc_id") === mn)
    if (checks) require(pt.count() == 1, "the min doc must read back")
    val (read, skipped) = graft.io.IcebergInterop.lastManifestScan
    require(read == 1 && skipped >= 1,
      s"a point read must open exactly the key's bucket manifest: " +
      s"read=$read skipped=$skipped")
    // streaming round-trip: origin snapshot, then a tailed bucket append
    val buf = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    val q = s.readStream.format("graft-iceberg").load(tmp)
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (b0: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = graft.streaming.BatchTuning.rightSize(b0.toDF())
        val r = b.agg(count(lit(1)), sum(col("n_chars"))).head()
        if (r.getLong(0) > 0) buf.synchronized {
          buf += ((r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      graft.io.IcebergWrite.appendPartitioned(
        docs.filter(col("doc_id") > mid), tmp, "doc_id", "bucket[8]")
      q.processAllAvailable()
    } finally q.stop()
    val (nStream, charsStream) = buf.synchronized(
      buf.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) })
    import s.implicits._
    pt.select(col("lang").as("point_lang"),
        col("n_chars").cast("long").as("point_chars"))
      .crossJoin(Seq((nStream, charsStream)).toDF("n_stream", "chars_stream"))
  }

  /** q198 — the NATIVE Iceberg lifecycle driven entirely as SQL TEXT
    * ([[graft.sql.DeltaSqlParser]] routing to
    * [[graft.io.IcebergWrite]]): CTAS creates the table, INSERT
    * appends the other half, DELETE masks the low band, UPDATE bumps
    * the 'en' slice, one MERGE re-langs the %9==0 band / re-inserts
    * its deleted keys / appends shifted inserts, then OPTIMIZE folds
    * the row deltas physically and VACUUM RETAIN 0 HOURS expires
    * history — each statement's affected-row counts asserted, and the
    * final aggregate read back through the `graft_iceberg` TVF in SQL
    * too. A SQL-first user never leaves the console; DuckDB replays
    * the whole lifecycle analytically. */
  private[graft] def q198(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    docs.createOrReplaceTempView("q198_docs")
    val tmp = graft.io.TempDirs.scratch("graft-q198") + "/t"
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 4
    s.sql(s"CREATE TABLE iceberg.`$tmp` AS " +
      "SELECT doc_id, lang, n_chars FROM q198_docs WHERE doc_id % 2 = 0")
    s.sql(s"INSERT INTO iceberg.`$tmp` " +
      "SELECT doc_id, lang, n_chars FROM q198_docs WHERE doc_id % 2 <> 0")
    val del = s.sql(s"DELETE FROM iceberg.`$tmp` WHERE doc_id < $k")
      .head().getLong(0)
    require(del > 0, "SQL DELETE must hit the low band")
    val upd = s.sql(s"UPDATE iceberg.`$tmp` SET n_chars = n_chars + 500 " +
      "WHERE lang = 'en'").head().getLong(0)
    require(upd > 0, "SQL UPDATE must hit the en slice")
    val mrg = s.sql(
      s"""MERGE INTO iceberg.`$tmp` AS t USING (
         |  SELECT doc_id, 'qq' AS lang, n_chars FROM q198_docs WHERE doc_id % 9 = 0
         |  UNION ALL
         |  SELECT doc_id + ${mx + 1} AS doc_id, 'ins' AS lang, n_chars
         |  FROM q198_docs WHERE doc_id % 9 = 0
         |) AS src ON t.doc_id = src.doc_id
         |WHEN MATCHED THEN UPDATE SET lang = src.lang
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    require(mrg.getLong(0) > 0 && mrg.getLong(1) > 0,
      s"SQL MERGE must update and insert: $mrg")
    val opt = s.sql(s"OPTIMIZE iceberg.`$tmp`").head()
    require(opt.getLong(1) >= 1, "SQL OPTIMIZE must fold the delete files")
    Thread.sleep(5)
    val vac = s.sql(s"VACUUM iceberg.`$tmp` RETAIN 0 HOURS").head()
    require(vac.getLong(0) >= 3 && vac.getLong(1) > 0,
      s"SQL VACUUM must expire and reclaim: $vac")
    s.sql(s"SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars " +
      s"FROM graft_iceberg('$tmp') GROUP BY lang ORDER BY lang")
  }

  /** q205 — q198's SQL lifecycle addressed entirely by CATALOG NAME
    * (the reference's Athena contract: users type table NAMES, never
    * paths — `/root/reference/README.md:101-103`; q170's named-table
    * shape on the Iceberg plane): `CREATE TABLE <name> USING iceberg
    * PARTITIONED BY (bucket(8, doc_id)) LOCATION ... AS ...` registers
    * the name, then INSERT/DELETE/UPDATE/MERGE/OPTIMIZE/VACUUM/
    * DESCRIBE all resolve it through the session catalog to the SAME
    * path-addressed distributed handlers (the name→path prepass), a
    * name-addressed ALTER evolves the schema AND refreshes the
    * registration, and the final aggregate reads back BY NAME.
    * Name ≡ path is asserted in-query (both spellings, same sum).
    * DuckDB replays the lifecycle analytically. */
  private[graft] def q205(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    docs.createOrReplaceTempView("q205_docs")
    val tmp = graft.io.TempDirs.scratch("graft-q205") + "/t"
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 4
    s.sql("DROP VIEW IF EXISTS q205_named")
    s.sql("CREATE TABLE q205_named USING iceberg " +
      s"PARTITIONED BY (bucket(8, doc_id)) LOCATION '$tmp' AS " +
      "SELECT doc_id, lang, n_chars FROM q205_docs WHERE doc_id % 2 = 0")
    try {
      s.sql("INSERT INTO q205_named " +
        "SELECT doc_id, lang, n_chars FROM q205_docs WHERE doc_id % 2 <> 0")
      val del = s.sql(s"DELETE FROM q205_named WHERE doc_id < $k").head().getLong(0)
      require(del > 0, "named DELETE must hit the low band")
      val upd = s.sql("UPDATE q205_named SET n_chars = n_chars + 500 " +
        "WHERE lang = 'en'").head().getLong(0)
      require(upd > 0, "named UPDATE must hit the en slice")
      val mrg = s.sql(
        s"""MERGE INTO q205_named AS t USING (
           |  SELECT doc_id, 'qq' AS lang, n_chars FROM q205_docs WHERE doc_id % 9 = 0
           |  UNION ALL
           |  SELECT doc_id + ${mx + 1} AS doc_id, 'ins' AS lang, n_chars
           |  FROM q205_docs WHERE doc_id % 9 = 0
           |) AS src ON t.doc_id = src.doc_id
           |WHEN MATCHED THEN UPDATE SET lang = src.lang
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
      require(mrg.getLong(0) > 0 && mrg.getLong(1) > 0,
        s"named MERGE must update and insert: $mrg")
      val opt = s.sql("OPTIMIZE q205_named").head()
      require(opt.getLong(1) >= 1, "named OPTIMIZE must fold the delete files")
      Thread.sleep(5)
      val vac = s.sql("VACUUM q205_named RETAIN 0 HOURS").head()
      require(vac.getLong(0) >= 3 && vac.getLong(1) > 0,
        s"named VACUUM must expire and reclaim: $vac")
      if (checks) {
        require(s.sql("DESCRIBE DETAIL q205_named").head().getString(0) == "iceberg")
        // name ≡ path: the same table through both spellings
        val byName = s.sql("SELECT CAST(sum(n_chars) AS BIGINT) FROM q205_named")
          .head().getLong(0)
        val byPath = graft.io.IcebergInterop.readIceberg(s, tmp)
          .agg(sum(col("n_chars")).cast("long")).head().getLong(0)
        require(byName == byPath, s"name/path must agree: $byName vs $byPath")
      }
      s.sql("SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars " +
        "FROM q205_named GROUP BY lang ORDER BY lang").localCheckpoint(true)
    } finally s.sql("DROP VIEW IF EXISTS q205_named")
  }

  /** q206 — Iceberg CHANGELOG read
    * ([[graft.io.IcebergChangelog.readChangesBetween]] — the q160
    * Delta-CDF contract on the Iceberg plane): the corpus lands in two
    * appends, a stats-pruned position DELETE masks the low band, a DV
    * UPDATE bumps the 'en' slice (+500), an EQUALITY delete masks the
    * %7==0 keys, and a compaction folds everything physically — then
    * ONE changelog read over the whole history emits every insert and
    * every preimage delete with snapshot ordinals: appended rows and
    * update postimages as `insert`; position-masked, DV-diffed and
    * key-matched preimages as `delete`; the compaction emits NOTHING
    * (rewrites move bytes, not logical state — asserted). The net
    * (inserts − deletes) must equal the live table (asserted), and
    * DuckDB replays the whole change inventory analytically. */
  private[graft] def q206(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q206")
    graft.io.IcebergWrite.append(
      docs.filter(col("doc_id") % 2 === 0).repartitionByRange(3, col("doc_id")), tmp)
    graft.io.IcebergWrite.append(
      docs.filter(col("doc_id") % 2 =!= 0).repartitionByRange(3, col("doc_id")), tmp)
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 3
    val (_, nDel) = graft.io.IcebergWrite.deleteWhere(s, tmp,
      col("doc_id") < k, ranges = Map("doc_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(nDel > 0)
    val (_, nUpd) = graft.io.IcebergWrite.updateWhereDV(s, tmp,
      col("lang") === "en", Map("n_chars" -> (col("n_chars") + 500L)))
    require(nUpd > 0, "the DV update must hit the en slice")
    val (_, nEq) = graft.io.IcebergWrite.equalityDelete(s, tmp,
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")).coalesce(1))
    require(nEq > 0)
    graft.io.IcebergWrite.compact(s, tmp, smallFileBytes = 0L)
    val ch = graft.io.IcebergChangelog.readChangesBetween(s, tmp)
      .localCheckpoint(false)
    if (checks) {
      // the compaction snapshot must be SILENT: 5 change-bearing commits
      require(ch.select(col("_change_ordinal")).distinct().count() == 5,
        "2 appends + delete + update + eq-delete = 5 change ordinals " +
        "(the update is one atomic snapshot); compact emits nothing")
      // net reconstruction: inserts − deletes == the live table
      val nIns = ch.filter(col("_change_type") === "insert").count()
      val nDels = ch.filter(col("_change_type") === "delete").count()
      require(nIns - nDels == graft.io.IcebergInterop.readIceberg(s, tmp).count(),
        "the changelog must reconstruct the live row count")
    }
    ch.groupBy(col("_change_type"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("_change_type"), col("lang"))
  }

  /** q207 — NATIVE v3 ROW LINEAGE lifecycle
    * ([[graft.io.IcebergWrite.appendLineage]] + the
    * materialize-on-rewrite rule, iceberg.apache.org/spec/ "Row
    * Lineage"): sorted single-file appends make the id assignment
    * relationally reproducible (evens rank 0..nE-1 at seq 1, odds
    * continue at nE at seq 2), a merge-on-read DV UPDATE bumps the en
    * slice's `_last_updated_sequence_number` to 3 while every row
    * KEEPS its `_row_id`, a DV DELETE masks the %5 band (seq 4), and
    * a full COMPACTION (seq 5) rewrites the files with both lineage
    * columns materialized — the in-query assert pins that not one
    * (id, last-updated) pair moved across the rewrite. DuckDB
    * re-derives ids with window functions and replays the
    * update/delete arithmetic analytically. */
  private[graft] def q207(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergInterop, IcebergWrite}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q207") + "/t"
    IcebergWrite.appendLineage(docs.filter(col("doc_id") % 2 === 0)
      .repartition(1).sortWithinPartitions("doc_id"), tmp)          // seq 1
    IcebergWrite.append(docs.filter(col("doc_id") % 2 =!= 0)
      .repartition(1).sortWithinPartitions("doc_id"), tmp)          // seq 2
    val (_, nUpd) = IcebergWrite.updateWhereDV(s, tmp,
      col("lang") === "en", Map("n_chars" -> (col("n_chars") + 1000L))) // seq 3
    require(nUpd > 0, "the DV update must hit the en slice")
    val (_, nDel) = IcebergWrite.deleteWhereDV(s, tmp, col("doc_id") % 5 === 0) // seq 4
    require(nDel > 0)
    def fingerprint(): org.apache.spark.sql.Row =
      IcebergInterop.readIceberg(s, tmp, withLineage = true).agg(
        count(lit(1)), sum(col("_row_id")).cast("long"),
        sum(col("_last_updated_sequence_number")).cast("long")).head()
    val before = if (checks) fingerprint() else null
    val (_, rewritten, _) = IcebergWrite.compact(s, tmp, smallFileBytes = 0L) // seq 5
    require(rewritten > 0, "compaction must rewrite the DV-masked files")
    if (checks) require(fingerprint() == before,
      "compaction moved a (_row_id, _last_updated_sequence_number) pair")
    IcebergInterop.readIceberg(s, tmp, withLineage = true)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("chars"),
        sum(col("_row_id")).cast("long").as("sum_row_id"),
        sum(col("_last_updated_sequence_number")).cast("long").as("sum_lus"))
      .orderBy(col("lang"))
  }

  /** q208 — Iceberg `OPTIMIZE ... ZORDER BY` (the Delta q97/q175
    * layout trick on the Iceberg plane, via
    * [[graft.io.IcebergWrite.optimizeZOrder]] /
    * [[graft.functions.ZOrder.layoutKey]]): the corpus lands hash-
    * scattered across 8 files, a DV DELETE masks the %7 band, and ONE
    * clustered rewrite folds the deletion vector while re-laying the
    * rows along the (doc_id, n_chars) Morton curve — in-query asserts
    * pin that all 8 files rewrote, that a follow-up compaction finds
    * ZERO surviving delete content, and that a 2-D box read stays
    * exact through the re-layout (the file-prune benefit itself is
    * deterministically spec-asserted on a grid in
    * IcebergMaintenanceSpec). DuckDB replays the surviving band. */
  private[graft] def q208(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergInterop, IcebergWrite}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q208") + "/t"
    IcebergWrite.append(docs.repartition(8, col("doc_id")), tmp)
    val nFiles0 = new java.io.File(s"$tmp/data").listFiles()
      .count(_.getName.endsWith(".parquet")).toLong
    val (_, nDel) = IcebergWrite.deleteWhereDV(s, tmp, col("doc_id") % 7 === 0)
    require(nDel > 0)
    val r = s.sql(s"OPTIMIZE iceberg.`$tmp` ZORDER BY (doc_id, n_chars)").head()
    require(r.getLong(0) == nFiles0,
      s"every scattered file rewrites: got ${r.getLong(0)} of $nFiles0")
    val (_, rew0, fold0) = IcebergWrite.compact(s, tmp, smallFileBytes = 0L)
    require(rew0 == 0 && fold0 == 0, "no delete content may survive the z rewrite")
    // a 2-D box read through the manifest bounds stays exact
    if (checks) {
      val mm = docs.agg(min(col("doc_id")), max(col("doc_id")),
        min(col("n_chars")), max(col("n_chars"))).head()
      def d(i: Int): Double = mm.get(i).asInstanceOf[Number].doubleValue
      val box = Map(
        "doc_id" -> ((d(0), d(0) + (d(1) - d(0)) / 4)),
        "n_chars" -> ((d(2), d(2) + (d(3) - d(2)) / 4)))
      val expected = docs.filter(col("doc_id") % 7 =!= 0)
        .filter(col("doc_id") <= d(0) + (d(1) - d(0)) / 4 &&
          col("n_chars") <= d(2) + (d(3) - d(2)) / 4).count()
      require(IcebergInterop.readIcebergWhere(s, tmp, box).count() == expected,
        "the boxed read must stay exact through the clustered layout")
    }
    IcebergInterop.readIceberg(s, tmp).groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q209 — Puffin TABLE STATISTICS (iceberg.apache.org/spec/ "Table
    * statistics" via [[graft.io.IcebergWrite.analyzeTable]]): ANALYZE
    * publishes per-column NDV blobs in a statistics file registered
    * under the metadata `statistics` field; the SQL surface computes
    * HLL estimates (the one-pass 100 TB mode, asserted within 5% of
    * truth in-query), the oracle row re-analyzes in EXACT mode and
    * DuckDB replays every (column, ndv, row_count) with
    * COUNT(DISTINCT). The read side applies the snapshot-freshness
    * rule ([[graft.io.IcebergInterop.tableStatistics]]). */
  private[graft] def q209(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergInterop, IcebergWrite}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q209") + "/t"
    IcebergWrite.append(docs.repartition(4, col("doc_id")), tmp)
    val est = s.sql(s"ANALYZE TABLE iceberg.`$tmp` COMPUTE STATISTICS")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (_, exact) = IcebergWrite.analyzeTable(s, tmp, exact = true)
    exact.foreach { case (c, v) =>
      require(math.abs(est(c) - v) <= math.max(3L, v / 20),
        s"HLL estimate for $c (${est(c)}) strays from exact $v") }
    require(IcebergInterop.tableStatistics(s, tmp) == exact,
      "the freshness rule must serve the re-analysis")
    IcebergInterop.statsTable(s, tmp)
      .select(col("column"), col("ndv"), col("row_count"))
      .orderBy(col("column"))
  }

  /** q210 — STREAMING CDC UPSERT into native Iceberg
    * ([[graft.streaming.IcebergStream.upsertSink]]): a change stream
    * applies BY KEY, exactly-once — batch 0 bootstraps the corpus,
    * batch 1 re-images the en slice with TWO sequence steps per key
    * (+500 then +1000; within-batch arbitration must keep the higher),
    * batch 2 tombstones the %5 band — each batch ONE merge-on-read
    * MERGE snapshot with the (appId, batchId) ledger stamped. The
    * in-query asserts replay batch 2's merge with its committed txn
    * (a structural NO-OP: same snapshot id back, zero deletes) and
    * pin the snapshot count at 3. DuckDB replays the net arithmetic:
    * survivors of the %5 tombstone, en chars +1000. */
  private[graft] def q210(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergInterop, IcebergWrite}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val charsT = docs.schema("n_chars").dataType
    val tmp = graft.io.TempDirs.scratch("graft-q210")
    val src = s"$tmp/src"
    val table = s"$tmp/table"
    def stage(b: DataFrame): Unit =
      b.coalesce(2).write.mode("append").parquet(src)
    stage(docs.withColumn("del", lit(false)).withColumn("seq", lit(0L)))
    val schema = s.read.parquet(src).schema
    val q = graft.streaming.IcebergStream.upsertSink(s,
      s.readStream.schema(schema).parquet(src),
      table, Seq("doc_id"), "q210", s"$tmp/ckpt",
      sequenceCol = Some("seq"), deleteCol = Some("del"))
    try {
      q.processAllAvailable() // batch 0: bootstrap
      val en = docs.filter(col("lang") === "en")
      stage(en.withColumn("n_chars", (col("n_chars") + 500L).cast(charsT))
        .withColumn("del", lit(false)).withColumn("seq", lit(1L))
        .unionByName(en
          .withColumn("n_chars", (col("n_chars") + 1000L).cast(charsT))
          .withColumn("del", lit(false)).withColumn("seq", lit(2L))))
      q.processAllAvailable() // batch 1: arbitrated re-image
      stage(docs.filter(col("doc_id") % 5 === 0)
        .withColumn("lang", lit(null).cast("string"))
        .withColumn("n_chars", lit(null).cast(charsT))
        .withColumn("del", lit(true)).withColumn("seq", lit(3L)))
      q.processAllAvailable() // batch 2: tombstones
    } finally q.stop()
    if (checks) {
      require(IcebergInterop.snapshots(s, table).count() == 3,
        "3 batches = 3 snapshots (bootstrap + 2 merges)")
      // the crash-window contract, asserted directly: batch 2's txn is
      // in the ledger — replaying its merge is a structural no-op
      val head = IcebergInterop.snapshots(s, table)
        .orderBy(col("sequence_number").desc).head().getLong(0)
      val (replaySnap, replayDel, _) = IcebergWrite.mergeInto(s, table,
        docs.limit(5).localCheckpoint(false), Seq("doc_id"),
        matched = Seq(graft.io.DeltaInterop.MatchedClause(None, Map.empty,
          delete = true)),
        notMatched = None, txn = Some(("q210", 2L)))
      require(replaySnap == head && replayDel == 0L,
        "a ledger-covered merge must replay as a no-op")
    }
    IcebergInterop.readIceberg(s, table).groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q211 — PARTITION STATISTICS (iceberg.apache.org/spec/
    * "Partition statistics" via
    * [[graft.io.IcebergWrite.analyzePartitions]]): a day(ts)-
    * partitioned event table lands in TWO partitioned appends, and
    * ANALYZE derives per-day live row counts ENTIRELY from manifest
    * metadata (graft's one-manifest-per-tuple layout makes each
    * manifest's field summary its tuple — zero data scanned), writes
    * the spec's partition-statistics parquet, and registers it under
    * `partition-statistics`. The oracle replays the per-day counts
    * with epoch-day arithmetic; in-query asserts pin the freshness
    * rule and that the registered counts sum to the corpus. */
  private[graft] def q211(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergInterop, IcebergWrite}
    val events = T(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("ts"))
    val tmp = graft.io.TempDirs.scratch("graft-q211") + "/t"
    // hash-cluster by the day tuple before staging (Iceberg's
    // write.distribution-mode=hash for partitioned event tables): the
    // single-file source would otherwise stage every day's files from
    // ONE task, serially (guide §6 partitioned-write shape)
    IcebergWrite.appendPartitioned(
      events.filter(col("event_id") % 2 === 0), tmp, Seq(("ts", "day")),
      txn = None, clusterBySpec = true)
    IcebergWrite.appendPartitioned(
      events.filter(col("event_id") % 2 =!= 0), tmp, Seq(("ts", "day")),
      txn = None, clusterBySpec = true)
    if (checks) require(IcebergInterop.partitionStatsTable(s, tmp).isEmpty,
      "no statistics before the analysis")
    val (_, nParts) = IcebergWrite.analyzePartitions(s, tmp)
    require(nParts > 0)
    val st = IcebergInterop.partitionStatsTable(s, tmp).get
      .localCheckpoint(false)
    if (checks) require(st.agg(sum(col("data_record_count"))).head().getLong(0) ==
      events.count(), "registered counts must sum to the corpus")
    st.select(col("partition.ts_day").as("day_num"),
        col("data_record_count").as("n_rows"))
      .orderBy(col("day_num"))
  }

  /** q212 — STREAMING INCREMENTAL NEAR-DUP DEDUP
    * ([[graft.streaming.DedupStream.dedupSink]]): the corpus arrives
    * in THREE batches (doc_id % 3), each batch's docs drop when an
    * LSH band key (the q27/q28 MinHash signature, band index baked
    * into the key) collides with a PRIOR survivor's key in the
    * persisted Iceberg signature table, or with a smaller-id doc of
    * the same batch (bucket-local min-id suppression — deterministic
    * by design); survivors and their keys land exactly-once. DuckDB
    * replays the ENTIRE rule — signatures, band keys, the state
    * recurrence unrolled over the three batches — and the aggregate
    * hash-matches. In-query asserts pin both ledgers at 3 snapshots. */
  private[graft] def q212(s: SparkSession, dir: String): DataFrame = {
    import graft.io.IcebergInterop
    val docs = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    val tmp = graft.io.TempDirs.scratch("graft-q212")
    val src = s"$tmp/src"
    def stage(b: DataFrame): Unit =
      b.coalesce(2).write.mode("append").parquet(src)
    stage(docs.filter(col("doc_id") % 3 === 0))
    val schema = s.read.parquet(src).schema
    // bucket[8](band_key) state layout: the per-batch collision probe
    // prunes state manifests by the batch's key buckets (at this SF a
    // batch's keys touch most buckets — the layout is exercised for
    // CORRECTNESS here; DedupStreamSpec pins the strict-subset prune)
    val q = graft.streaming.DedupStream.dedupSink(s,
      s.readStream.schema(schema).parquet(src),
      "doc_id", "text", s"$tmp/corpus", s"$tmp/sigs", "q212", s"$tmp/ckpt",
      stateBuckets = 8)
    try {
      q.processAllAvailable()
      stage(docs.filter(col("doc_id") % 3 === 1))
      q.processAllAvailable()
      stage(docs.filter(col("doc_id") % 3 === 2))
      q.processAllAvailable()
    } finally q.stop()
    if (checks) require(
      IcebergInterop.snapshots(s, s"$tmp/corpus").count() == 3 &&
      IcebergInterop.snapshots(s, s"$tmp/sigs").count() == 3,
      "3 batches = 3 exactly-once snapshots on each ledger")
    val corpus = IcebergInterop.readIceberg(s, s"$tmp/corpus")
    if (checks) require(corpus.count() <= docs.count())
    corpus.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q213 — LINEAGE CHANGELOG: keyed CDC without a natural key
    * ([[graft.io.IcebergChangelog.readChangesBetween]] `withLineage`):
    * every change row carries its stable v3 `_row_id`, so an UPDATE's
    * delete/insert pair shares ONE id — the property that lets a
    * downstream consumer apply the stream as an upsert keyed by row
    * identity. Sorted single-file appends make ids reproducible
    * (q207's derivation), the en slice updates via DV (+1000), the %5
    * band DV-deletes, and the closing compaction is changelog-SILENT.
    * DuckDB re-derives the ids with window functions and replays the
    * full change inventory — including each delete's CURRENT preimage
    * arithmetic — to a hash match on (type, lang) aggregates over
    * count/chars/id-sums. */
  private[graft] def q213(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergChangelog, IcebergWrite}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q213") + "/t"
    IcebergWrite.appendLineage(docs.filter(col("doc_id") % 2 === 0)
      .repartition(1).sortWithinPartitions("doc_id"), tmp)          // seq 1
    IcebergWrite.append(docs.filter(col("doc_id") % 2 =!= 0)
      .repartition(1).sortWithinPartitions("doc_id"), tmp)          // seq 2
    val (_, nUpd) = IcebergWrite.updateWhereDV(s, tmp,
      col("lang") === "en", Map("n_chars" -> (col("n_chars") + 1000L))) // seq 3
    require(nUpd > 0)
    val (_, nDel) = IcebergWrite.deleteWhereDV(s, tmp, col("doc_id") % 5 === 0) // seq 4
    require(nDel > 0)
    IcebergWrite.compact(s, tmp, smallFileBytes = 0L)               // seq 5: silent
    val ch = IcebergChangelog.readChangesBetween(s, tmp, withLineage = true)
      .localCheckpoint(false)
    if (checks) {
      require(ch.agg(max(col("_change_ordinal"))).head().getLong(0) == 4L,
        "compaction must emit nothing")
      // keyed-CDC invariant: folding the stream BY _row_id (last change
      // wins, deletes drop) reconstructs the live view exactly
      // within one ordinal a (delete, insert) pair is an UPDATE — the
      // insert is the row's final state there; a lone delete stays final
      val folded = ch.withColumn("_rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("_row_id"))
            .orderBy(col("_change_ordinal").desc,
              when(col("_change_type") === "insert", 1).otherwise(0).desc)))
        .filter(col("_rn") === 1 && col("_change_type") === "insert")
      val live = graft.io.IcebergInterop.readIceberg(s, tmp)
      require(folded.count() == live.count() &&
        folded.agg(sum(col("n_chars"))).head().getLong(0) ==
          live.agg(sum(col("n_chars"))).head().getLong(0),
        "the lineage-keyed fold must reconstruct the live table")
    }
    ch.groupBy(col("_change_type"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"),
        sum(col("_row_id")).cast("long").as("sum_row_id"))
      .orderBy(col("_change_type"), col("lang"))
  }

  /** q214 — LINEAGE-KEYED TABLE REPLICATION (the closing composition:
    * [[graft.io.IcebergChangelog]] `withLineage` streaming source →
    * [[graft.streaming.IcebergStream.upsertSink]] keyed by `_row_id`):
    * a mirror table tracks the source through its origin backfill, a
    * DV update (+1000 on the en slice) and a DV delete (%5 band) —
    * updates and deletes apply BY ROW IDENTITY, no natural key, with
    * within-batch (ordinal, insert-wins) sequence arbitration and both
    * ends exactly-once. The in-query assert pins mirror ≡ source
    * row-for-row; DuckDB replays the source arithmetic. */
  private[graft] def q214(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergInterop, IcebergWrite}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q214")
    val srcT = s"$tmp/src"
    val dst = s"$tmp/dst"
    IcebergWrite.appendLineage(docs
      .repartition(1).sortWithinPartitions("doc_id"), srcT)
    val changes = s.readStream.format("graft-iceberg")
      .option("readChanges", "true").option("lineage", "true").load(srcT)
    val feed = changes
      .withColumn("_src_row_id", col("_row_id"))
      .withColumn("_del", col("_change_type") === "delete")
      .withColumn("_seq", col("_change_ordinal") * 2 +
        when(col("_change_type") === "insert", 1).otherwise(0))
      .drop("_row_id", "_change_type", "_change_ordinal", "_commit_snapshot_id")
    val q = graft.streaming.IcebergStream.upsertSink(s, feed, dst,
      Seq("_src_row_id"), "q214", s"$tmp/ckpt",
      sequenceCol = Some("_seq"), deleteCol = Some("_del"))
    try {
      q.processAllAvailable()
      IcebergWrite.updateWhereDV(s, srcT, col("lang") === "en",
        Map("n_chars" -> (col("n_chars") + 1000L)))
      IcebergWrite.deleteWhereDV(s, srcT, col("doc_id") % 5 === 0)
      q.processAllAvailable()
    } finally q.stop()
    val mirror = IcebergInterop.readIceberg(s, dst)
    if (checks) {
      val srcRows = IcebergInterop.readIceberg(s, srcT)
      require(mirror.drop("_src_row_id").exceptAll(srcRows).isEmpty &&
        srcRows.exceptAll(mirror.drop("_src_row_id")).isEmpty,
        "the mirror must equal the source row-for-row")
    }
    mirror.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q196 — NATIVE Iceberg TABLE MAINTENANCE
    * ([[graft.io.IcebergWrite.rewriteManifests]] /
    * [[graft.io.IcebergWrite.compact]] /
    * [[graft.io.IcebergWrite.expireSnapshots]]), the q147 pattern on
    * the Iceberg plane: the corpus lands in SIX appends (the
    * append-heavy sink shape), `rewrite_manifests` bin-packs the
    * manifest list 6→1 metadata-only (rows identical, asserted), a
    * merge-on-read DELETE masks the low band, then the table passes
    * through all three physical states — LIVE (masks in-plan),
    * COMPACTED (one `replace` snapshot folds the position deletes into
    * rewritten files; zero delete files in the scan, asserted), and
    * EXPIRED (snapshots age out reference-counted; the folded delete
    * parquets physically reclaim, `metadata/` shrinks, and time travel
    * to an expired snapshot refuses loudly, all asserted). The
    * aggregate must be IDENTICAL in every state — DuckDB replays the
    * surviving band analytically. */
  private[graft] def q196(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q196")
    val s1 = graft.io.IcebergWrite.append(
      docs.filter(col("doc_id") % 2 === 0).repartitionByRange(4, col("doc_id")), tmp)
    // the odd half lands as FIVE micro-appends — the append-heavy sink
    // shape whose manifest LIST grows one entry per commit
    (1L to 9L by 2L).foreach { r =>
      graft.io.IcebergWrite.append(
        docs.filter(col("doc_id") % 10 === r).repartitionByRange(2, col("doc_id")), tmp)
    }
    def read() = graft.io.IcebergInterop.readIceberg(s, tmp)
    if (checks) {
      def manifestListLen(): Int = {
        read().count() // refresh lastManifestScan on the current head
        val (r, sk) = graft.io.IcebergInterop.lastManifestScan
        r + sk
      }
      require(manifestListLen() == 6, "one manifest per append before the merge")
    }
    val rowsPreMerge = if (checks) read().count() else 0L
    // state 1.5: MANIFEST-MERGED — rewrite_manifests bin-packs the
    // list metadata-only; rows identical, planning walk bounded
    val (_, mergedAway, manAfter) =
      graft.io.IcebergWrite.rewriteManifests(s, tmp)
    require(mergedAway == 5 && manAfter == 1,
      s"manifest merge must bin-pack 6 -> 1: merged=$mergedAway after=$manAfter")
    if (checks) require(read().count() == rowsPreMerge,
      "a manifest merge must not change the live rows")
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 3
    val (_, nDel) = graft.io.IcebergWrite.deleteWhere(s, tmp,
      col("doc_id") < k, ranges = Map("doc_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(nDel > 0, "the delete must hit the low band")
    val liveCount = if (checks) read().count() else 0L
    val metaDir = new java.io.File(s"$tmp/metadata")
    def metaCount() = metaDir.list().count(!_.startsWith("."))
    val metaLive = metaCount()
    // state 2: COMPACTED — the replace snapshot folds the masks
    val (_, rewritten, folded) = graft.io.IcebergWrite.compact(s, tmp)
    require(rewritten > 0 && folded > 0, s"compact must fold: $rewritten/$folded")
    if (checks) {
      require(read().count() == liveCount, "compaction must not change live rows")
      require(!read().inputFiles.exists(_.contains("/data/delete-")),
        "after compaction the masks are physical — no delete file scans")
    }
    // state 3: EXPIRED — metadata bounded, reclaim reference-counted
    Thread.sleep(2)
    val (expired, reclaimed) = graft.io.IcebergWrite.expireSnapshots(s, tmp, 0L)
    require(expired >= 3 && reclaimed > 0, s"expiry must reclaim: $expired/$reclaimed")
    require(metaCount() < metaLive, "metadata/ must shrink after expiry")
    require(!new java.io.File(s"$tmp/data").list().exists(_.startsWith("delete-")),
      "the folded position-delete files must physically reclaim")
    if (checks) {
      val refused =
        try { graft.io.IcebergInterop.readIceberg(s, tmp, Some(s1)).count(); false }
        catch { case e: IllegalArgumentException => e.getMessage.contains("not found") }
      require(refused, "time travel to an expired snapshot must refuse loudly")
      require(read().count() == liveCount, "expiry must not change live rows")
    }
    read().groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q197 — MERGE-ON-READ UPDATE + MERGE on a NATIVE Iceberg table
    * ([[graft.io.IcebergWrite.updateWhere]]/[[graft.io.IcebergWrite.mergeInto]]):
    * the corpus lands range-partitioned, a stats-pruned UPDATE bumps
    * the low-doc_id band (+1000 chars), then ONE atomic MERGE snapshot
    * arbitrates ordered clauses — %10==0 matched rows DELETE, other
    * %5==0 matched rows re-lang to 'zz', shifted keys INSERT — all
    * merge-on-read: position deletes + postimage/insert appends, ZERO
    * data-file rewrites (asserted), exactly 3 snapshots (asserted),
    * and time travel still reads the pre-update corpus. This is the
    * upsert path an Iceberg-first warehouse runs (q161/q168's Delta
    * contract on the Iceberg plane); DuckDB replays the lifecycle
    * analytically. */
  private[graft] def q197(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q197")
    val s1 = graft.io.IcebergWrite.append(
      docs.repartitionByRange(6, col("doc_id")), tmp)
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 5
    def dataFileSet() = graft.io.IcebergInterop.readIceberg(s, tmp)
      .inputFiles.filter(p => !p.contains("/data/delete-")).toSet
    val files0 = if (checks) dataFileSet() else Set.empty[String]
    val (_, up) = graft.io.IcebergWrite.updateWhere(s, tmp,
      col("doc_id") < k, Map("n_chars" -> (col("n_chars") + 1000L)),
      ranges = Map("doc_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(up > 0, "the update must hit the low band")
    val src = docs.filter(col("doc_id") % 5 === 0)
      .unionByName(docs.filter(col("doc_id") % 5 === 0).select(
        (col("doc_id") + lit(mx + 1)).as("doc_id"),
        lit("ins").as("lang"), col("n_chars")))
    val (_, nDel, nIns) = graft.io.IcebergWrite.mergeInto(s, tmp, src,
      Seq("doc_id"),
      matched = Seq(
        graft.io.DeltaInterop.MatchedClause(Some(col("t.doc_id") % 10 === 0),
          Map.empty, delete = true),
        graft.io.DeltaInterop.MatchedClause(None, Map("lang" -> lit("zz")))),
      notMatched = Some((None, Map.empty)))
    require(nDel > 0 && nIns > 0, s"merge must fire both ways: $nDel/$nIns")
    if (checks) {
      require(files0.subsetOf(dataFileSet()),
        "merge-on-read must never rewrite the original data files")
      require(graft.io.IcebergInterop.snapshots(s, tmp).count() == 3,
        "append + update + merge = exactly 3 snapshots (each row delta atomic)")
      require(graft.io.IcebergInterop.readIceberg(s, tmp, Some(s1)).count()
        == docs.count(), "time travel must still see the pre-update corpus")
    }
    graft.io.IcebergInterop.readIceberg(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q204 — MULTI-FIELD hidden-partitioned Iceberg WRITES
    * ([[graft.io.IcebergWrite.appendPartitioned]] with
    * `(day(ts), bucket[4](user_id))` — the standard event-table
    * layout): one manifest per (day, bucket) TUPLE with a field
    * summary per spec field, so a (one day × one user) probe prunes
    * TWO-DIMENSIONALLY to exactly ONE manifest (asserted in-query);
    * metadata stays ∝ partition tuples (30 days × 4 buckets here), not
    * rows, at any corpus size. A stats-pruned MoR delete masks the low
    * event_id band, then compact folds it PRESERVING both partition
    * dimensions — the same 2-D probe still opens one manifest after
    * the rewrite (asserted). DuckDB replays the surviving corpus
    * analytically. */
  private[graft] def q204(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val tmp = graft.io.TempDirs.scratch("graft-q204")
    // hash-cluster by the (day, bucket) tuple before staging —
    // Iceberg's write.distribution-mode=hash, the standard event-table
    // write shape: ~120 tuples spread over the cores instead of ONE
    // task (the single-file source's partition count) writing all 120
    // partition dirs serially (measured 2.4 s of this row's 5.5 s)
    graft.io.IcebergWrite.appendPartitioned(ev, tmp,
      Seq(("ts", "day"), ("user_id", "bucket[4]")),
      txn = None, clusterBySpec = true)
    def read() = graft.io.IcebergInterop.readIceberg(s, tmp)
    def probe(lo: Long, hi: Long): DataFrame =
      graft.io.IcebergInterop.readIcebergWhere(s, tmp,
        Map("ts" -> ((lo.toDouble, hi.toDouble)),
            "user_id" -> ((0.0, 0.0))))
        .filter(col("user_id") === 0L)
    // 2-D probe bounds: user 0's LAST UTC day × user 0's bucket → ONE
    // manifest (the last day survives the low-band delete below; the
    // first day is exactly what it wipes)
    val probeBounds = if (checks) {
      require(read().count() == ev.count(), "the corpus must round-trip")
      val manTotal = {
        val (r0, s0) = graft.io.IcebergInterop.lastManifestScan; r0 + s0
      }
      require(manTotal >= 30, s"one manifest per (day,bucket) tuple: $manTotal")
      val tsMax = ev.filter(col("user_id") === 0L)
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      val day0 = Math.floorDiv(tsMax, 86400000000L)
      val (lo, hi) = (day0 * 86400000000L, day0 * 86400000000L + 86399999999L)
      val expected = ev.filter(col("user_id") === 0L &&
        unix_micros(col("ts")).between(lo, hi)).count()
      require(expected > 0 && probe(lo, hi).count() == expected,
        s"the 2-D probe must read user 0's first day: $expected")
      val (r1, s1) = graft.io.IcebergInterop.lastManifestScan
      require(r1 == 1 && s1 == manTotal - 1,
        s"day × bucket prune must open ONE manifest: read=$r1 skipped=$s1")
      Some((lo, hi))
    } else None
    // stats-pruned MoR delete of the low event_id band, then compact
    // PRESERVING both partition dimensions
    val mm = ev.agg(min(col("event_id")), max(col("event_id"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val k = mn + (mx - mn) / 10
    val (_, nDel) = graft.io.IcebergWrite.deleteWhere(s, tmp,
      col("event_id") < k, ranges = Map("event_id" -> ((mn.toDouble, (k - 1).toDouble))))
    require(nDel > 0, "the delete must hit the low band")
    val (_, rewritten, folded) = graft.io.IcebergWrite.compact(s, tmp,
      smallFileBytes = 0L)
    require(rewritten > 0 && folded > 0, s"compact folds: $rewritten/$folded")
    probeBounds.foreach { case (lo, hi) =>
      require(!read().inputFiles.exists(_.contains("/data/delete-")))
      val expected2 = ev.filter(col("user_id") === 0L && col("event_id") >= k &&
        unix_micros(col("ts")).between(lo, hi)).count()
      require(probe(lo, hi).count() == expected2,
        "the probe must read the surviving band after the fold")
      val (r2, _) = graft.io.IcebergInterop.lastManifestScan
      require(r2 == 1,
        s"2-D skipping must SURVIVE the partition-preserving compact: read=$r2")
    }
    read().groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("event_type"))
  }

  /** q215 — V3 FIELD DEFAULT VALUES end-to-end (iceberg.apache.org/
    * spec/ "Default values"): two pre-add appends, `addColumn` with an
    * initial/write default (format bumps to v3), one post-add append
    * with EXPLICIT values, one append OMITTING the column entirely
    * (write-default fills it). Pre-add files read the DEFAULT — per
    * file, through the adding snapshot's pinned schema-id — never
    * null; DuckDB replays the rule with CASE arithmetic. In-query
    * asserts pin the v3 bump and that time travel before the add
    * reads the old shape. */
  private[graft] def q215(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergInterop, IcebergWrite}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q215") + "/t"
    IcebergWrite.append(docs.filter(col("doc_id") % 3 === 0), tmp)   // pre-add
    IcebergWrite.append(docs.filter(col("doc_id") % 3 === 1), tmp)   // pre-add
    val preSnap = IcebergInterop.readJson(s,
      IcebergInterop.currentMetadataPath(s, tmp))
      .path("current-snapshot-id").asLong
    IcebergWrite.addColumn(s, tmp, "grade",
      org.apache.spark.sql.types.LongType, default = Some(5L))
    IcebergWrite.append(docs.filter(col("doc_id") % 3 === 2)
      .withColumn("grade", col("doc_id") % 7), tmp)                  // explicit
    IcebergWrite.append(docs.filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L), tmp)          // write-default
    val meta = IcebergInterop.readJson(s,
      IcebergInterop.currentMetadataPath(s, tmp))
    require(meta.path("format-version").asInt == 3,
      "a default-bearing add must bump the table to v3")
    require(!IcebergInterop.readIceberg(s, tmp, Some(preSnap))
      .columns.contains("grade"),
      "time travel before the add reads the old shape")
    IcebergInterop.readIceberg(s, tmp)
      .groupBy(col("lang"), col("grade"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"), col("grade"))
  }

  /** q216 — WRITE-AUDIT-PUBLISH (branch writes,
    * iceberg.apache.org/spec/ "References"): the odd half of the
    * corpus stages as two appends + a DV delete on an `audit` branch
    * ([[graft.io.IcebergWrite.onBranch]]) while main stays pinned
    * (asserted in-query), the audit read goes through the SQL
    * front-end's `VERSION AS OF 'audit'`, and
    * [[graft.io.IcebergWrite.fastForward]] publishes. The delete band
    * (doc_id % 10 IN (4, 5)) straddles BOTH the main-seeded rows and
    * the staged ones — branch masking of main data without touching
    * main. DuckDB replays the published state. */
  private[graft] def q216(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergInterop, IcebergWrite}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q216") + "/t"
    IcebergWrite.append(docs.filter(col("doc_id") % 2 === 0), tmp)   // main seed
    val mainBefore =
      if (checks) IcebergInterop.readIceberg(s, tmp).count() else 0L
    IcebergWrite.onBranch("audit") {
      IcebergWrite.append(docs.filter(col("doc_id") % 4 === 1), tmp) // staged 1
      IcebergWrite.append(docs.filter(col("doc_id") % 4 === 3), tmp) // staged 2
      val (_, nDel) = IcebergWrite.deleteWhereDV(s, tmp,
        col("doc_id") % 10 === 4 || col("doc_id") % 10 === 5)        // staged fix
      require(nDel > 0, "the staged delete must hit")
    }
    if (checks) {
      require(IcebergInterop.readIceberg(s, tmp).count() == mainBefore,
        "main must stay pinned while the branch stages")
      val audited = s.sql(
        s"SELECT count(*) AS n FROM iceberg.`$tmp` VERSION AS OF 'audit'")
        .head().getLong(0)
      require(audited ==
        docs.filter(col("doc_id") % 10 =!= 4 && col("doc_id") % 10 =!= 5).count(),
        "the SQL audit read must see the full staged state")
    }
    IcebergWrite.fastForward(s, tmp, "audit")
    IcebergInterop.readIceberg(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q217 — CHANGELOG ACROSS ROLLBACK
    * ([[graft.io.IcebergChangelog]]): a lifecycle whose operator
    * RESTORES mid-history — seed, DV delete, append, rollback past
    * both — read end-to-end as changes. The rollback emits its NET
    * diff (the dropped append as deletes, the rolled-back masks as
    * UNDELETE inserts) at its own ordinal, so a folding CDC consumer
    * survives the restore; DuckDB replays the full change inventory.
    * In-query asserts pin the ordinal count and the fold-equals-live
    * invariant. */
  private[graft] def q217(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergChangelog, IcebergInterop, IcebergWrite}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q217") + "/t"
    val seedSnap = IcebergWrite.append(docs.filter(col("doc_id") % 2 === 0), tmp)
    val (_, nDel) = IcebergWrite.deleteWhereDV(s, tmp, col("doc_id") % 10 === 2)
    require(nDel > 0)
    IcebergWrite.append(docs.filter(col("doc_id") % 2 =!= 0), tmp)
    IcebergWrite.rollbackTo(s, tmp, seedSnap) // restore: drop append + masks
    val ch = IcebergChangelog.readChangesBetween(s, tmp).localCheckpoint(false)
    if (checks) {
      require(ch.agg(max(col("_change_ordinal"))).head().getLong(0) == 4L,
        "the rollback must emit at its own ordinal")
      // fold-equals-live: inserts minus deletes reconstruct the restored state
      val net = ch.groupBy(col("doc_id"), col("lang"), col("n_chars"))
        .agg(sum(when(col("_change_type") === "insert", 1).otherwise(-1)).as("k"))
        .filter(col("k") > 0)
      require(net.count() == IcebergInterop.readIceberg(s, tmp).count(),
        "folding the stream must reconstruct the restored table")
    }
    ch.groupBy(col("_change_type").as("change_type"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("change_type"), col("lang"))
  }

  /** q220 — WAP PUBLISH PAST A DIVERGED MAIN
    * ([[graft.io.IcebergWrite.cherryPickPublish]]): the audit stages
    * appends + a row-level delete on a branch while main takes an
    * UNRELATED append mid-audit — the normal state of a high-ingest
    * table. Fast-forward refuses (asserted in-query); cherry-pick
    * re-commits the staged file diffs onto the new main head as ONE
    * metadata-only snapshot after conflict validation, so the final
    * table holds main's own commit AND the audited work. DuckDB
    * replays the end state analytically. */
  private[graft] def q220(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergInterop, IcebergWrite}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q220") + "/t"
    IcebergWrite.append(docs.filter(col("doc_id") % 2 === 0), tmp)   // main seed
    IcebergWrite.onBranch("audit") {
      IcebergWrite.append(docs.filter(col("doc_id") % 4 === 1), tmp) // staged
      val (_, nDel) = IcebergWrite.deleteWhere(s, tmp,
        col("doc_id") % 20 === 1)                                    // staged fix
      require(nDel > 0, "the staged delete must hit")
    }
    // main diverges mid-audit with the remaining docs
    IcebergWrite.append(docs.filter(col("doc_id") % 4 === 3), tmp)
    val refused = try { IcebergWrite.fastForward(s, tmp, "audit"); false }
      catch { case _: IllegalArgumentException => true }
    require(refused, "fast-forward must refuse the diverged main")
    val published = IcebergWrite.cherryPickPublish(s, tmp, "audit")
    require(IcebergInterop.readJson(s,
      IcebergInterop.currentMetadataPath(s, tmp))
      .path("current-snapshot-id").asLong == published)
    IcebergInterop.readIceberg(s, tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }

  /** q221 — BRANCH-SCOPED AUDIT STREAM (q216's audit read, but
    * incremental): an audit pipeline tails the STAGED branch's
    * commits through the streaming source (`branch=audit`,
    * `readChanges=true`) while main stays pinned — staged appends and
    * the staged row-level delete arrive as change rows, and folding
    * them reconstructs exactly the state q216 audits in one SQL read.
    * Same oracle as q216. */
  private[graft] def q221(s: SparkSession, dir: String): DataFrame = {
    import graft.io.{IcebergInterop, IcebergWrite}
    val docs = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = graft.io.TempDirs.scratch("graft-q221")
    val tbl = s"$tmp/t"
    IcebergWrite.append(docs.filter(col("doc_id") % 2 === 0), tbl)   // main seed
    IcebergWrite.createBranch(s, tbl, "audit") // pin the fork, pre-staging
    val sink = s"$tmp/sink"
    val q = s.readStream.format("graft-iceberg")
      .option("branch", "audit").option("readChanges", "true")
      .load(tbl).writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode("append").parquet(sink); ()
      }.start()
    try {
      q.processAllAvailable() // origin backfill: the seed as inserts
      IcebergWrite.onBranch("audit") {
        IcebergWrite.append(docs.filter(col("doc_id") % 4 === 1), tbl)
        IcebergWrite.append(docs.filter(col("doc_id") % 4 === 3), tbl)
        val (_, nDel) = IcebergWrite.deleteWhereDV(s, tbl,
          col("doc_id") % 10 === 4 || col("doc_id") % 10 === 5)
        require(nDel > 0, "the staged delete must hit")
      }
      q.processAllAvailable() // tail the staged commits as change rows
    } finally q.stop()
    if (checks) require(IcebergInterop.readIceberg(s, tbl).count() ==
      docs.filter(col("doc_id") % 2 === 0).count(),
      "main must stay pinned while the audit stream consumes the branch")
    val net = s.read.parquet(sink)
      .groupBy(col("doc_id"), col("lang"), col("n_chars"))
      .agg(sum(when(col("_change_type") === "insert", 1).otherwise(-1)).as("k"))
      .filter(col("k") > 0)
    net.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))
  }
}
