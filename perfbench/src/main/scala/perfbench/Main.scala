package perfbench

import org.apache.spark.sql.SparkSession

/** Inputs one iteration reads: a fresh directory, its row count and its
  * size in bytes. */
final case class Prepared(dir: String, rows: Long, bytes: Long)

/** One benchmark workload: a seeded generator, a fixed script of
  * operations run through a [[Recorder]], and checks against a model the
  * workload keeps apart from the program. */
trait Workload {
  /** Generate iteration `iter`'s inputs; single-threaded, plain java.io. */
  def prepare(iter: Int): Prepared
  def run(rec: Recorder, in: Prepared): Unit
  /** Corruptions of the last checked results that a checker accepted.
    * Empty when every checker rejects its corrupted input. */
  def selfCheck(): Seq[String]
  /** Operations that fail on every run because of a named program
    * fault, with that fault. Their failure leaves the run correct. */
  def knownFaults: Map[String, String] = Map.empty
}

/** The per-layer metrics every traced run reports, with their units.
  * Layers a workload does not exercise read 0 there. */
object Layers {
  private val stageSuffixes = Seq("s" -> "s", "jobs" -> "count", "busy" -> "ratio")
  val synthea: Seq[(String, String)] =
    for {
      day <- Seq("d1", "d2")
      stage <- Seq("ingest", "repair", "clean", "mart")
      (suffix, unit) <- stageSuffixes ++
        (if (stage == "clean" || stage == "mart") Seq("write_mb" -> "MB", "files" -> "count") else Nil)
    } yield (s"$day.$stage.$suffix", unit)

  val lakeOps: Seq[String] =
    for {
      format <- Seq("delta", "iceberg")
      op <- Seq("append", "merge", "delete_dv", "update_dv", "read_key", "read_amount", "compact") ++
        (if (format == "iceberg") Seq("cdc_batch") else Nil)
    } yield s"$format.$op"
  /** Lakehouse writes: every operation but the two range reads. */
  val dmlOps: Set[String] = lakeOps.filterNot(_.contains(".read_")).toSet
  val lake: Seq[(String, String)] =
    (for {
      op <- lakeOps
      (suffix, unit) <- Seq("ms" -> "ms", "jobs" -> "count", "busy" -> "ratio", "write_mb" -> "MB")
    } yield (s"$op.$suffix", unit)) :+ ("dml.p50_ms" -> "ms")

  val crawl: Seq[(String, String)] =
    for {
      op <- Seq("warc.write", "warc.read", "extract.text", "dedup.exact", "dedup.near", "dedup_stream.batch")
      (suffix, unit) <- stageSuffixes ++
        (if (op == "warc.write" || op == "dedup_stream.batch") Seq("write_mb" -> "MB") else Nil)
    } yield (s"$op.$suffix", unit)

  val process: Seq[(String, String)] = Seq(
    "gc.s" -> "s", "threads.growth" -> "count", "cache.held_mb" -> "MB", "jit.timed_s" -> "s",
    "rss_peak_mb" -> "MB",
    "span.coverage" -> "ratio", "host.cores" -> "count", "spark.local_n" -> "count",
    "host.steal_ticks" -> "ticks", "host.iowait_ticks" -> "ticks", "host.busy_ticks" -> "ticks")

  val all: Seq[(String, String)] = synthea ++ lake ++ crawl ++ process
}

/** Benchmark main. `--workload W --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * Starts one local Spark session sized to the host, generates the first
  * iteration's inputs, then times whole iterations, each on fresh inputs,
  * until `seconds` have passed (at least one), and finally proves that
  * every checker rejects a corrupted result. The last stdout line is the
  * result JSON: end-to-end metrics untraced, per-layer metrics traced.
  * Diagnostics, the per-iteration times and the host record go to stderr. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = arg("work")
    if (!Set("synthea_daily", "lakehouse_dml", "crawl_corpus")(name)) {
      System.err.println(s"unknown workload $name")
      sys.exit(2)
    }

    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder("perfbench", s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, name, seed, seconds, traced, work, cores)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
                  traced: Boolean, work: String, cores: Int): Int = {
    val wl: Workload = name match {
      case "synthea_daily" => new SyntheaDaily(spark, s"$work/data", seed)
      case "lakehouse_dml" => new LakehouseDml(spark, s"$work/data", seed)
      case "crawl_corpus" => new CrawlCorpus(spark, s"$work/data", seed)
    }
    val rec = new Recorder(spark, traced)
    val iters = scala.collection.mutable.ArrayBuffer.empty[(Iter, Prepared)]
    var in = wl.prepare(0)
    val setupS = (System.currentTimeMillis() - Jvm.startMillis) / 1e3
    val threads0 = Jvm.threads()
    val ticks0 = graft.tools.HostTelemetry.cpuTicks()
    val t0 = System.nanoTime()
    var more = true
    while (more) {
      rec.iterIndex = iters.size
      iters += ((rec.iteration(wl.run(rec, in)), in))
      Storage.deleteTree(in.dir)
      more = System.nanoTime() - t0 < seconds * 1e9
      if (more) in = wl.prepare(iters.size)
    }
    val ticks1 = graft.tools.HostTelemetry.cpuTicks()
    val threadGrowth = Jvm.threads() - threads0
    val cacheHeldMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6
    val missed = wl.selfCheck()
    val rssPeakMb = Jvm.rssPeakMb()

    val times = iters.map(_._1.seconds).toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", iters.head._2.rows / Stats.median(times), "rows/s"),
      ("cpu_s", Stats.median(iters.map(_._1.cpuSeconds).toSeq), "s"),
      ("write_amp", Stats.median(iters.map { case (i, p) => i.writeBytes.toDouble / p.bytes }.toSeq), "ratio"))

    def d(k: String) = math.max(0L, ticks1.getOrElse(k, 0L) - ticks0.getOrElse(k, 0L)).toDouble
    val busyTicks = Seq("user", "nice", "system", "irq", "softirq", "steal").map(d).sum
    val unexpected = rec.failures.keys.filterNot(wl.knownFaults.contains)
    val correct = missed.isEmpty && unexpected.isEmpty
    val err = System.err
    err.println(f"[perfbench] $name seed=$seed traced=$traced cores=$cores local[${spark.sparkContext.defaultParallelism}] " +
      f"ticks steal=${d("steal")}%.0f iowait=${d("iowait")}%.0f busy=$busyTicks%.0f " +
      f"iterations=${times.map(t => f"$t%.3f").mkString(",")}")
    (e2e :+ (("rss_peak_mb", rssPeakMb, "MB"))).foreach { case (k, v, u) =>
      err.println(f"[perfbench] $k = $v%.4f $u") }
    rec.failures.foreach { case (op, (n, msg)) =>
      val why = wl.knownFaults.get(op).map(f => s" [known fault: $f]").getOrElse(" [UNEXPECTED]")
      err.println(s"[perfbench] failed $op x$n$why: $msg")
    }
    missed.foreach(m => err.println(s"[perfbench] checker accepted a corrupted result: $m"))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e
      else {
        val process = Map(
          "gc.s" -> Stats.median(iters.map(_._1.gcSeconds).toSeq),
          "threads.growth" -> threadGrowth.toDouble,
          "cache.held_mb" -> cacheHeldMb,
          "jit.timed_s" -> Stats.median(iters.map(_._1.jitSeconds).toSeq),
          "rss_peak_mb" -> rssPeakMb,
          "span.coverage" -> iters.indices.map { k =>
            rec.spans.filter(_.iter == k).map(_.seconds).sum / iters(k)._1.seconds
          }.min,
          "host.cores" -> cores.toDouble,
          "spark.local_n" -> spark.sparkContext.defaultParallelism.toDouble,
          "host.steal_ticks" -> d("steal"),
          "host.iowait_ticks" -> d("iowait"),
          "host.busy_ticks" -> busyTicks)
        val layer = layerMetrics(rec, cores)
        Layers.all.map { case (k, u) => (k, process.getOrElse(k, layer.getOrElse(k, 0.0)), u) }
      }

    val body = metrics.map { case (k, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${rec.attempted}, "failed": ${rec.failed}, "metrics": {$body}}""")
    0
  }

  /** Medians over passed spans, per span name and suffix. */
  private def layerMetrics(rec: Recorder, cores: Int): Map[String, Double] = {
    val attr = rec.attribute()
    val passed = rec.spans.filter(_.ok).toSeq
    val byName = passed.groupBy(_.name)
    val perOp = byName.toSeq.flatMap { case (n, ss) =>
      def med(f: Span => Double) = Stats.median(ss.map(f))
      Seq(
        s"$n.s" -> med(_.seconds),
        s"$n.ms" -> med(_.seconds * 1e3),
        s"$n.jobs" -> med(s => attr(s)._1.toDouble),
        s"$n.busy" -> med(s => attr(s)._2 / (math.max(1L, s.endMs - s.startMs) * cores.toDouble)),
        s"$n.write_mb" -> med(_.writeBytes / 1e6),
        s"$n.files" -> med(_.files.toDouble))
    }
    val dml = passed.filter(s => Layers.dmlOps(s.name)).map(_.seconds * 1e3)
    (perOp :+ ("dml.p50_ms" -> Stats.median(dml))).toMap
  }
}
