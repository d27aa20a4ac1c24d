package graft

import org.apache.spark.sql.SparkSession

/** SCALE bench — the ×N companion to [[Bench]], recorded as a
  * first-class artifact (round-18 verdict: at sf0.1 the headline bench
  * measures per-commit/per-micro-batch fixed costs, 8 cores beats 32,
  * and a PARALLELISM regression would be invisible; the ×10 smokes
  * existed but lived outside the recorded artifacts).
  *
  * Contract mirrors [[Bench]]: data from `SPARK_GRAFT_SF_DIR`
  * (replicated ×`SPARK_GRAFT_SCALE_COPIES`, default 10, shifted keys —
  * the [[graft.tools.ScaleSmoke]] shape, generated UNTIMED), master
  * `local[$SPARK_GRAFT_CPUS]`, one JSON line
  * `{"metric":"total_x10","value":N,"unit":"sec","queries":{...},"sf":...}`
  * persisted to `SPARK_GRAFT_BENCH_OUT` (default `BENCH_SCALE.json`).
  * Run at two core counts and the per-query ratio is the scale signal
  * the sf0.1 bench can no longer produce.
  *
  * Row set: the compute-heavy subset where parallelism matters — the
  * text/ANN rows that ran FASTER on 8 cores at sf0.1 (q87/q138/q144…),
  * the relational joins, and the lakehouse/streaming rows whose ×10
  * factors round 18 tracked by hand. */
object BenchScale {

  val rows: Seq[String] = Seq(
    "q01_pricing_summary", "q04_star_join", "q08_dedup_latest_order",
    "q18_scd2_faithful", "q26_ngram_jaccard", "q28_minhash_neardup",
    "q29_simhash", "q84_tfidf_topterms", "q87_semantic_neardup",
    "q93_doc_chunks", "q95_unigram_lm", "q96_winnow_fingerprints",
    "q124_repeated_spans", "q129_paragraph_neardup", "q131_dedup_survivors",
    "q135_nb_langid", "q138_quality_classifier", "q141_nb_hashed",
    "q144_stream_nb_train",
    "q196_iceberg_maintenance", "q204_iceberg_multi_partition",
    "q212_stream_dedup", "q223_warc_extract", "q224_warc_stream",
    "q228_warc_framed", "q231_corpus_front_door", "q233_wet_roundtrip")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val spark: SparkSession = GraftSession
      .builder("graft-bench-scale", s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    // ×N inputs (untimed generation, like Bench's untimed index builds)
    val out = graft.io.TempDirs.scratch(s"graft-scale-x$copies")
    graft.tools.ScaleSmoke.replicateInto(spark, sfDir, out, copies)

    // untimed warmup at the smallest SF: JIT the plans' generated code
    // so the timed loop measures steady-state cost (Bench's contract)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    rows.foreach { name =>
      try { SparkEntry.queries(name)(spark, warmDir).count() }
      catch { case e: Throwable => System.err.println(s"[bench] warm-up $name failed: $e") }
    }

    val ticksBefore = graft.tools.HostTelemetry.cpuTicks()
    val results = rows.map { name =>
      val fn = SparkEntry.queries(name)
      name -> Bench.timed(name)(fn(spark, out).count())
    }
    val host = graft.tools.HostTelemetry.deltaJson(
      ticksBefore, graft.tools.HostTelemetry.cpuTicks())
    val total = results.flatMap(_._2.toOption).sum
    val line =
      f"""{"metric":"total_x$copies%d","value":$total%.3f,"unit":"sec","queries":${Bench.queriesJson(results)}%s,$host%s,"cpus":$cpus%s,"sf":"$sfDir"}"""
    println(line)
    try {
      val dst = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SCALE.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(dst),
        (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    Bench.exitIfFailed(results)
  }
}
