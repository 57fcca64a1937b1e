package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-layer trace of one traced pass.
  *
  * The benchmark opens a [[Span]] around each public call it makes and sets
  * the span's id as the Spark job group. Every job is filed under a layer:
  * the span's own layer, unless `layerOfFrame` maps the first program frame
  * of the job's call site to another one, which then replaces the last
  * dot-separated part of the span's layer. So work lands in the layer whose
  * code materialises it. Driver time, the part of a span that no job covers,
  * goes to the layer of the job it precedes, or to the span's layer after the
  * span's last job.
  */
final class Trace(layerOfFrame: String => Option[String]) extends SparkListener {
  import Trace._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val spans = mutable.ArrayBuffer.empty[Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // the result stage is created last; its long call site lists the
    // program's frames, innermost first, after one Spark frame
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val frame = site.linesIterator.drop(1).nextOption().getOrElse("")
    jobs(e.jobId) = new Job(group, layerOfFrame(frame), e.time, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.taskMs += m.executorRunTime
    }
  }

  /** Time `body` as a span of `layer`, with `group` as its job group. */
  def span[A](sc: SparkContext, group: String, layer: String)(body: => A): A = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val start = System.currentTimeMillis()
    try body
    finally {
      val end = System.currentTimeMillis()
      sc.clearJobGroup()
      synchronized { spans += Span(group, layer, start, end) }
    }
  }

  /** Run `body` with this listener registered; returns its result and the
    * per-layer counters of the spans it recorded. */
  def during[A](sc: SparkContext, cores: Int)(body: => A): (A, Map[String, Layer]) = {
    sc.addSparkListener(this)
    try {
      val a = body
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      (a, layers(cores))
    } finally {
      sc.removeSparkListener(this)
      synchronized { jobs.clear(); stageJob.clear(); stages.clear(); spans.clear() }
    }
  }

  private def layers(cores: Int): Map[String, Layer] = synchronized {
    val acc = mutable.LinkedHashMap.empty[String, LayerAcc]
    def at(l: String) = acc.getOrElseUpdate(l, new LayerAcc)
    val byGroup = jobs.values.groupBy(_.group)
    for (sp <- spans) {
      val js = byGroup.getOrElse(sp.group, Nil).toSeq.sortBy(_.start)
      val layerOf = js.map(j => j -> layerIn(sp, j)).toMap
      // walk the span: each instant belongs to the earliest-started running
      // job, or, when none runs, to the next job to start (driver time)
      val cuts = (Seq(sp.start, sp.end) ++ js.flatMap(j => Seq(j.start, j.end)))
        .map(t => math.min(math.max(t, sp.start), sp.end)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val running = js.find(j => j.start <= a && j.end >= b)
        val l = running.orElse(js.find(_.start >= b)).map(layerOf).getOrElse(sp.layer)
        at(l).wallMs += b - a
        if (running.isEmpty) at(l).driverMs += b - a
      }
    }
    for ((sid, agg) <- stages; jid <- stageJob.get(sid); j <- jobs.get(jid);
         sp <- spans.find(_.group == j.group)) {
      val a = at(layerIn(sp, j))
      a.tasks += agg.tasks; a.runMs += agg.runMs; a.gcMs += agg.gcMs
      a.shuffleWrite += agg.shuffleWrite; a.spill += agg.spill
      if (agg.taskMs.size > 1) {
        val sorted = agg.taskMs.sorted
        val med = sorted(sorted.size / 2)
        if (med > 0) a.skew = math.max(a.skew, sorted.last.toDouble / med)
      }
    }
    acc.map { case (l, a) =>
      val wall = a.wallMs / 1e3
      l -> Layer(wall, a.driverMs / 1e3, a.tasks, a.gcMs / 1e3, a.shuffleWrite / MB, a.spill / MB,
        if (wall > 0) a.runMs / 1e3 / (wall * cores) else 0.0, if (a.tasks > 0) math.max(a.skew, 1.0) else 0.0)
    }.toMap
  }

  private def layerIn(sp: Span, j: Job): String =
    j.layer.fold(sp.layer)(l => sp.layer.substring(0, sp.layer.lastIndexOf('.') + 1) + l)

}

object Trace {
  val MB = 1024.0 * 1024.0

  final case class Span(group: String, layer: String, start: Long, end: Long)
  private final class Job(val group: String, val layer: Option[String], val start: Long, var end: Long)
  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  /** The 8 counters each layer reports. */
  final case class Layer(wallS: Double, driverS: Double, tasks: Long, gcS: Double,
                         shuffleWriteMb: Double, spillMb: Double, coreUtil: Double, taskSkew: Double) {
    def metrics: Seq[(String, Double, String)] = Seq(
      ("wall_s", wallS, "s"), ("driver_s", driverS, "s"), ("tasks", tasks.toDouble, "count"),
      ("gc_s", gcS, "s"), ("shuffle_write_mb", shuffleWriteMb, "MB"), ("spill_mb", spillMb, "MB"),
      ("core_util", coreUtil, "frac"), ("task_skew", taskSkew, "ratio"))
  }
  val Empty: Layer = Layer(0, 0, 0, 0, 0, 0, 0, 0)

  private final class LayerAcc {
    var wallMs = 0L; var driverMs = 0L; var tasks = 0L; var runMs = 0L
    var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L; var skew = 0.0
  }

  /** Average of per-pass layer records. */
  def mean(ls: Seq[Layer]): Layer =
    if (ls.isEmpty) Empty
    else {
      val n = ls.size.toDouble
      Layer(ls.map(_.wallS).sum / n, ls.map(_.driverS).sum / n, math.round(ls.map(_.tasks).sum / n),
        ls.map(_.gcS).sum / n, ls.map(_.shuffleWriteMb).sum / n, ls.map(_.spillMb).sum / n,
        ls.map(_.coreUtil).sum / n, ls.map(_.taskSkew).max)
    }
}

/** Bytes held by cached RDD blocks, from block-update events. It is always
  * registered: it only keeps one number per block. */
final class CacheMeter extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var current = 0L
  private var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      current += size - sizes.getOrElse(key, 0L)
      if (size == 0L) sizes.remove(key) else sizes(key) = size
      peakBytes = math.max(peakBytes, current)
    }
  }

  /** Start a new peak window at the current holding. */
  def reset(): Unit = synchronized { peakBytes = current }
  def peakMb: Double = synchronized { peakBytes / Trace.MB }
}
