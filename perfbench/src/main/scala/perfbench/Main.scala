package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. `perfbench/run.py` builds the program and starts
  * this with the machine-fitted JVM settings; see BENCHMARK.json for what
  * each workload and metric means.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *   --work DIR --frontier IDS --expected FILE --split FILE --launch-ms T
  *   [--corrupt-digest QUERY]
  *
  * Prints one `health` line per timed pass, then the result line.
  */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
                          data: String, work: Path, frontier: Int, expected: Path, split: Path,
                          launchMs: Long, corruptDigest: Option[String])

  /** One timed operation: a catalog query or a crawl round. */
  final case class Op(name: String, wallS: Double, ok: Boolean)
  /** One timed pass: the catalog workload's queries once, or one nightly
    * cold + resume pair of crawl rounds. */
  final case class Pass(label: String, ops: Seq[Op], cachePeakMb: Double, leakedBlocks: Long,
                        start: Health.Mark, end: Health.Mark)

  /** What a workload measured. `layers` and `extra` come from traced passes
    * and are keyed by per-layer metric name. */
  final case class Run(setupS: Double, passes: Seq[Pass], traced: Seq[Pass],
                       layers: Map[String, Trace.Layer], extra: Map[String, Double])

  val Workloads = Seq("crawl_nightly", "catalog_analytics", "catalog_similarity")
  val CrawlLayers: Seq[String] =
    for (r <- Seq("cold", "resume"); l <- Seq("frontier", "scheduler", "fetch", "snapshot")) yield s"$r.$l"
  val CatalogLayers = Seq("views", "etl", "text", "sources", "sim")
  /** Timed catalog queries that ROADMAP items target. */
  val TrackedQueries = Seq("q06", "q14", "q84", "q85", "q96", "q107")

  /** (name, unit) of every extra per-layer metric, in print order. */
  val ExtraMetrics: Seq[(String, String)] =
    Seq("cold", "resume").flatMap(r => Seq(s"$r.urls_per_s" -> "1/s", s"$r.snapshot.bytes_per_url" -> "B",
      s"$r.snapshot.files" -> "count")) ++
      Seq("core.leaked_blocks" -> "count", "failed_frac" -> "frac", "trace_overhead_frac" -> "frac") ++
      TrackedQueries.map(q => s"query.${q}_s" -> "s")

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    Files.createDirectories(cfg.work)
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new CacheMeter
    spark.sparkContext.addSparkListener(meter)
    val run =
      try cfg.workload match {
        case "crawl_nightly" => CrawlBench.run(spark, cfg, meter)
        case w => CatalogBench.run(spark, cfg, meter, w)
      } finally spark.stop()

    report(run).foreach(println)
    println(result(cfg, run))
  }

  private def report(run: Run): Seq[String] = {
    val all = run.passes ++ run.traced
    val hs = all.map { p =>
      // each operation against its median over the run
      val med = p.ops.map(o => Stats.median(all.flatMap(_.ops.filter(_.name == o.name)).map(_.wallS)))
      Health.between(p.label, p.start, p.end, p.ops.map(_.wallS), med)
    }
    for (p <- all; o <- p.ops)
      System.err.println(f"[perfbench] ${p.label} ${o.name} ${o.wallS}%.3f s${if (o.ok) "" else " FAILED"}")
    Health.flags(hs).map { case (h, f) => "health " + h.json(f) }
  }

  def result(cfg: Config, run: Run): String = {
    val ops = (run.passes ++ run.traced).flatMap(_.ops)
    val failed = ops.count(!_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!cfg.trace) {
        val walls = run.passes.flatMap(_.ops).map(_.wallS)
        Seq(("setup_s", run.setupS, "s"),
          ("sweep_s", Stats.median(run.passes.map(_.ops.map(_.wallS).sum)), "s"),
          ("op_p50_s", Stats.quantile(walls, 0.5), "s"),
          ("op_p90_s", Stats.quantile(walls, 0.9), "s"),
          ("cache_peak_mb", Stats.median(run.passes.map(_.cachePeakMb)), "MB"))
      } else {
        val layers = (CrawlLayers ++ CatalogLayers).flatMap { l =>
          run.layers.getOrElse(l, Trace.Empty).metrics.map { case (n, v, u) => (s"$l.$n", v, u) }
        }
        val extra = run.extra ++ Map(
          "failed_frac" -> failed.toDouble / math.max(ops.size, 1),
          "core.leaked_blocks" -> (run.passes ++ run.traced).map(_.leakedBlocks).max.toDouble,
          "trace_overhead_frac" -> (Stats.median(run.traced.map(_.ops.map(_.wallS).sum)) /
            Stats.median(run.passes.map(_.ops.map(_.wallS).sum)) - 1.0))
        layers ++ ExtraMetrics.map { case (n, u) => (n, extra.getOrElse(n, 0.0), u) }
      }
    Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
  }

  /** Run timed passes until their operations have taken `seconds`, at
    * least one pass. Counting operation time only, not the checks and cache
    * release between passes, keeps the number of passes the same from run
    * to run. With tracing, untraced and traced passes alternate, and only
    * untraced ones count; an even seed starts with a traced one, so that
    * over seeds neither kind always runs warmer. */
  def timedPasses(cfg: Config)(pass: Boolean => Pass): (Seq[Pass], Seq[Pass]) = {
    val plain = Seq.newBuilder[Pass]
    val traced = Seq.newBuilder[Pass]
    var measured = 0.0
    val kinds = if (!cfg.trace) Seq(false) else if (cfg.seed % 2 == 0) Seq(true, false) else Seq(false, true)
    do kinds.foreach { t =>
      val p = pass(t)
      if (t) traced += p else { plain += p; measured += p.ops.map(_.wallS).sum }
    } while (measured < cfg.seconds)
    (plain.result(), traced.result())
  }

  /** Drop every cached frame and persistent RDD, outside the timed window,
    * so nothing built in one pass is reused in the next. Returns the blocks
    * that were still cached, i.e. persisted outside any cache scope. */
  def releaseCaches(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val leaked = sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    spark.sharedState.cacheManager.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    leaked
  }

  /** A new session on the same context, its session state built. */
  def freshSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.sql("SELECT 1").collect()
    s
  }

  def setupSeconds(cfg: Config): Double = (System.currentTimeMillis() - cfg.launchMs) / 1e3

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = get("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    Config(workload, get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      get("data"), Paths.get(get("work")), get("frontier").toInt, Paths.get(get("expected")),
      Paths.get(get("split")), get("launch-ms").toLong, kv.get("corrupt-digest"))
  }
}
