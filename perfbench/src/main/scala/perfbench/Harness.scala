package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** A check of the program's output against the benchmark's own model did
  * not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  /** Multiset equality of two row collections; the message names a few
    * rows on each side of the difference. */
  def sameRows[A](what: String, got: Iterable[A], want: Iterable[A]): Unit = {
    val g = got.groupMapReduce(identity)(_ => 1)(_ + _)
    val w = want.groupMapReduce(identity)(_ => 1)(_ + _)
    if (g != w) {
      val extra = g.keys.filter(k => g(k) > w.getOrElse(k, 0)).take(3)
      val missing = w.keys.filter(k => w(k) > g.getOrElse(k, 0)).take(3)
      throw new CheckFailed(s"$what: got ${got.size} rows, want ${want.size}; " +
        s"unexpected [${extra.mkString("; ")}] missing [${missing.mkString("; ")}]")
    }
  }

  /** True when `check` rejects its input. The self-check feeds every
    * checker a deliberately corrupted result and requires this. */
  def rejects(check: => Unit): Boolean =
    try { check; false } catch { case _: CheckFailed => true }
}

/** Probes of the benchmark's own JVM. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNanos(): Long = os.getProcessCpuTime
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def threads(): Int = ManagementFactory.getThreadMXBean.getThreadCount
  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Peak resident set (VmHWM) in MB (10^6 bytes); 0 where /proc is
    * unreadable. */
  def rssPeakMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .flatMap(_.split("\\s+").lift(1)).flatMap(_.toLongOption).map(_ * 1024 / 1e6).getOrElse(0.0)
      finally src.close()
    } catch { case NonFatal(_) => 0.0 }
}

/** Storage counters: Hadoop FileSystem statistics of the local scheme
  * (every table, archive, log and checkpoint write of the program goes
  * through them; the generator writes with plain java.io and is not
  * counted) and output-file counts. */
object Storage {
  @annotation.nowarn("cat=deprecation")
  def bytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Data files under `dir`: regular files that are not hidden, not
    * markers and not checksums. */
  def countFiles(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else {
        val n = f.getName
        if (n.startsWith(".") || n.startsWith("_") || n.endsWith(".crc")) 0L else 1L
      }
    walk(new java.io.File(dir))
  }

  /** Rows in the parquet files under `dir`, summed from their footers:
    * the benchmark's own count of a written table, no Spark job. */
  def parquetRows(dir: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (!f.getName.endsWith(".parquet") || f.getName.startsWith(".")) 0L
      else {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }
    walk(new java.io.File(dir))
  }

  def deleteTree(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(dir))
  }
}

/** One timed call into a layer. `iter` is the iteration it belongs to;
  * wall-clock bounds are epoch milliseconds, the clock Spark stamps its
  * job and task events with. */
final case class Span(name: String, iter: Int, startMs: Long, endMs: Long,
                      seconds: Double, ok: Boolean, writeBytes: Long, files: Long)

/** Cost of one iteration with its checks taken out. */
final case class Iter(seconds: Double, cpuSeconds: Double, writeBytes: Long,
                      gcSeconds: Double, jitSeconds: Double)

/** Runs operations, gives each a status, and records spans.
  *
  * Every operation is attempted, timed and then checked. An exception or
  * a failed check counts it as failed; a failed operation leaves no time
  * in the per-layer figures. Checks run outside the timed interval and
  * their wall and CPU time are taken out of the iteration's cost.
  *
  * With `traced`, a listener logs Spark job submissions and task run
  * intervals; [[attribute]] later assigns them to spans by timestamp, so
  * tracing adds no synchronisation to the timed path. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val jobTimes = new ConcurrentLinkedQueue[java.lang.Long]()
  private val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  if (traced) spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobTimes.add(e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      taskIntervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
  })

  var attempted = 0L
  var failed = 0L
  /** op name → (failures, first message). */
  val failures = mutable.LinkedHashMap.empty[String, (Int, String)]
  val spans = mutable.ArrayBuffer.empty[Span]
  var iterIndex = 0
  private var iterWrite = 0L
  private var iterCheckNanos = 0L
  private var iterCheckCpu = 0L

  /** Run `body` as operation `name`, then `check` its result. `outputs`
    * are directories whose data files are counted (traced runs only).
    * Returns the result when the operation passed. */
  def op[A](name: String, outputs: => Seq[String] = Nil)(body: => A)(check: A => Unit): Option[A] = {
    attempted += 1
    val w0 = Storage.bytesWritten()
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val s1 = System.currentTimeMillis()
    val wb = Storage.bytesWritten() - w0
    iterWrite += wb
    val c0 = System.nanoTime()
    val cpu0 = Jvm.cpuNanos()
    val verdict = res.flatMap(a =>
      try { check(a); Right(a) } catch { case NonFatal(e) => Left(e) })
    val files = if (traced && verdict.isRight) outputs.map(Storage.countFiles).sum else 0L
    iterCheckNanos += System.nanoTime() - c0
    iterCheckCpu += Jvm.cpuNanos() - cpu0
    spans += Span(name, iterIndex, s0, s1, (t1 - t0) / 1e9, verdict.isRight, wb, files)
    verdict match {
      case Right(a) => Some(a)
      case Left(e) =>
        failed += 1
        val first = failures.get(name).map(_._2).getOrElse {
          val m = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          if (m.length > 600) m.take(600) + "…" else m
        }
        failures(name) = (failures.get(name).map(_._1).getOrElse(0) + 1, first)
        None
    }
  }

  /** Harness work inside an iteration that is not the program's (moving
    * an arriving file into place): taken out of the iteration's cost like
    * a check. */
  def untimed[A](body: => A): A = {
    val c0 = System.nanoTime()
    val cpu0 = Jvm.cpuNanos()
    try body finally {
      iterCheckNanos += System.nanoTime() - c0
      iterCheckCpu += Jvm.cpuNanos() - cpu0
    }
  }

  def iteration(body: => Unit): Iter = {
    iterWrite = 0L
    iterCheckNanos = 0L
    iterCheckCpu = 0L
    val gc0 = Jvm.gcMillis()
    val jit0 = Jvm.jitMillis()
    val cpu0 = Jvm.cpuNanos()
    val t0 = System.nanoTime()
    body
    val wall = System.nanoTime() - t0 - iterCheckNanos
    Iter(wall / 1e9, (Jvm.cpuNanos() - cpu0 - iterCheckCpu) / 1e9, iterWrite,
      (Jvm.gcMillis() - gc0) / 1e3, (Jvm.jitMillis() - jit0) / 1e3)
  }

  /** Per span: (Spark jobs submitted inside it, task milliseconds that
    * ran inside it). Waits for the listener bus to deliver every event. */
  def attribute(): Map[Span, (Int, Double)] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val jobs = jobTimes.asScala.map(_.longValue).toArray.sorted
    val tasks = taskIntervals.asScala.toArray
    spans.map { s =>
      val nJobs = jobs.count(t => t >= s.startMs && t <= s.endMs)
      val busy = tasks.iterator.map { case (a, b) =>
        math.max(0L, math.min(b, s.endMs) - math.max(a, s.startMs)).toDouble
      }.sum
      s -> ((nJobs, busy))
    }.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  }
}
