package perfbench

import scala.jdk.CollectionConverters._

/** Host-health record of one timed pass (the catalog queries once, or a
  * crawl's cold and resume round): the host's busy and steal shares from
  * `/proc/stat`, and the JVM's GC share of the wall time, as the scaling
  * benchmark's `[scaling-leg]` line prints them.
  */
final case class Health(label: String, wallS: Double, busyPct: Double, stealPct: Double,
                        gcPct: Double, opsSlowerPct: Double) {
  def json(flags: Seq[String]): String = Json.obj(Seq(
    "iteration" -> Json.str(label), "wall_s" -> Json.num(wallS), "host_busy_pct" -> Json.num(busyPct),
    "host_steal_pct" -> Json.num(stealPct), "jvm_gc_pct" -> Json.num(gcPct),
    "ops_slower_pct" -> Json.num(opsSlowerPct),
    "flags" -> flags.map(Json.str).mkString("[", ",", "]")))
}

object Health {
  final case class Mark(nanos: Long, total: Long, idle: Long, steal: Long, gcMs: Long)

  def mark(): Mark = {
    val (t, i, s) = cpuStat()
    Mark(System.nanoTime(), t, i, s, gcMs())
  }

  /** `opTimes` and `medianOpTimes` are the iteration's per-operation walls
    * and the run's median wall of the same operations. */
  def between(label: String, a: Mark, b: Mark, opTimes: Seq[Double], medianOpTimes: Seq[Double]): Health = {
    val dT = math.max(b.total - a.total, 1L).toDouble
    val wall = (b.nanos - a.nanos) / 1e9
    val slower = opTimes.zip(medianOpTimes).count { case (t, m) => t > Inflation * m }
    Health(label, wall, (dT - (b.idle - a.idle)) / dT * 100.0, (b.steal - a.steal) / dT * 100.0,
      (b.gcMs - a.gcMs) / 1e3 / math.max(wall, 1e-9) * 100.0,
      if (opTimes.isEmpty) 0.0 else slower * 100.0 / opTimes.size)
  }

  val Inflation = 1.5

  /** BENCH.md's degraded-run signs, as flags. They are reported and never
    * used to drop an iteration.
    *  - uniform_inflation: at least 80% of the iteration's operations ran
    *    more than 1.5x slower than their median over the run.
    *  - lost_wall_flat_gc: the iteration took more than 1.5x the run's
    *    median iteration while its GC share stayed within 5 points of the
    *    median GC share, so the time went neither to work nor to GC.
    *  - host_steal: the hypervisor took more than 5% of the host's CPU time. */
  def flags(hs: Seq[Health]): Seq[(Health, Seq[String])] = {
    val medWall = Stats.median(hs.map(_.wallS))
    val medGc = Stats.median(hs.map(_.gcPct))
    hs.map { h =>
      h -> Seq(
        "uniform_inflation" -> (h.opsSlowerPct >= 80.0),
        "lost_wall_flat_gc" -> (h.wallS > Inflation * medWall && h.gcPct <= medGc + 5.0),
        "host_steal" -> (h.stealPct > 5.0)).collect { case (f, true) => f }
    }
  }

  /** (total, idle + iowait, steal) jiffies from the aggregate `cpu` line;
    * zeroes when the file cannot be read. */
  private def cpuStat(): (Long, Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum, f(3) + (if (f.length > 4) f(4) else 0L), if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L, 0L) }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
}
