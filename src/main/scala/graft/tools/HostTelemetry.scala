package graft.tools

/** Host contention telemetry for the bench mains: aggregate CPU ticks
  * from `/proc/stat`, sampled before/after a timed section so the
  * emitted JSON carries `steal_ticks` / `iowait_ticks` deltas. A noisy
  * hypervisor neighbor (CPU steal) or a saturated disk (iowait) shows
  * up here, letting a reader separate "the code got slower" from "the
  * host was contended" without re-running anything — two consecutive
  * rounds of bench adjudication hinged on exactly this distinction.
  */
object HostTelemetry {

  /** The `cpu ` summary line of /proc/stat as name → ticks
    * (user, nice, system, idle, iowait, irq, softirq, steal).
    * Empty map when the file is unreadable (non-Linux). */
  def cpuTicks(): Map[String, Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val line = src.getLines().find(_.startsWith("cpu ")).getOrElse("")
        val parts = line.trim.split("\\s+").drop(1).flatMap(p => p.toLongOption)
        val names = Seq("user", "nice", "system", "idle",
          "iowait", "irq", "softirq", "steal")
        names.zip(parts.toSeq.padTo(8, 0L)).toMap
      } finally src.close()
    } catch { case _: Throwable => Map.empty }

  /** Driver-JVM resident set size in MiB (`VmRSS` of /proc/self/status);
    * -1 when unreadable. Rising rss across the per-query series points a
    * slow block at memory pressure rather than CPU contention. */
  def rssMb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmRSS:"))
        .flatMap(_.split("\\s+").lift(1)).flatMap(_.toLongOption)
        .map(_ / 1024).getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  /** Per-query JSON object for one bracketed sample pair + rss:
    * `{"sec":S,"steal":…,"iowait":…,"busy":…,"total":…,"rss_mb":…}`;
    * `"sec":null` for a failed query. */
  def perQueryJson(sec: Option[Double], before: Map[String, Long],
                   after: Map[String, Long], rss: Long): String = {
    def d(k: String) = math.max(0L, after.getOrElse(k, 0L) - before.getOrElse(k, 0L))
    val total = Seq("user", "nice", "system", "idle",
      "iowait", "irq", "softirq", "steal").map(d).sum
    val busy = total - d("idle") - d("iowait")
    val secJson = sec.fold("null")(v => f"$v%.3f")
    f"""{"sec":$secJson%s,"steal":${d("steal")},"iowait":${d("iowait")},"busy":$busy,"total":$total,"rss_mb":$rss}"""
  }

  /** JSON fields for the delta between two [[cpuTicks]] samples:
    * `"steal_ticks":S,"iowait_ticks":W,"busy_ticks":B,"total_ticks":T`
    * (busy = non-idle non-iowait). Zeros when sampling failed. */
  def deltaJson(before: Map[String, Long], after: Map[String, Long]): String = {
    def d(k: String) = math.max(0L, after.getOrElse(k, 0L) - before.getOrElse(k, 0L))
    val total = Seq("user", "nice", "system", "idle",
      "iowait", "irq", "softirq", "steal").map(d).sum
    val busy = total - d("idle") - d("iowait")
    s""""steal_ticks":${d("steal")},"iowait_ticks":${d("iowait")},"busy_ticks":$busy,"total_ticks":$total"""
  }
}
