package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Crawl
import graft.core.{CacheScope, CrawlConfig, FetchResult, Ids}
import graft.fetch.Fetcher
import graft.frontier.{Frontier, SeenSet, SeenStore}
import graft.scheduler.{Politeness, VirtualClockOracle}
import graft.snapshot.SnapshotTable

/** The nightly crawl: a cold round from an empty table directory, then a
  * resume round over its snapshots, each called the way `CrawlMain` calls
  * the crawl with run ids 1 and 2. The resume round re-crawls every seen id
  * (etag-conditional fetches that return 304s) beside as many new
  * discoveries. Each round's outputs are checked after it, outside the
  * timed window.
  */
object CrawlBench {
  private final case class Round(wallS: Double, urls: Long, ok: Boolean)
  private val PilotIds = 1000

  def run(spark: SparkSession, cfg: Main.Config, meter: CacheMeter): Main.Run = {
    System.err.println(f"[perfbench] session ready after ${Main.setupSeconds(cfg)}%.1f s")
    // the pilot warms both rounds' code paths on a small frontier
    iteration(spark, cfg, cfg.work.resolve("pilot"), PilotIds, meter, None, "pilot")
    val setupS = Main.setupSeconds(cfg)
    System.err.println(f"[perfbench] pilot done after $setupS%.1f s")

    val trace = new Trace(layerOfFrame)
    val layers = Seq.newBuilder[Map[String, Trace.Layer]]
    val extras = Seq.newBuilder[Map[String, Double]]
    var i = 0
    val (plain, traced) = Main.timedPasses(cfg) { tracing =>
      i += 1
      val dir = cfg.work.resolve(s"crawl$i")
      if (!tracing) iteration(spark, cfg, dir, cfg.frontier, meter, None, s"pass$i")._1
      else {
        val ((p, extra), l) = trace.during(spark.sparkContext, cfg.cores)(
          iteration(spark, cfg, dir, cfg.frontier, meter, Some(trace), s"pass$i.traced"))
        layers += l
        extras += extra
        p
      }
    }
    val perLayer = layers.result()
    val meanLayers = Main.CrawlLayers.map(l => l -> Trace.mean(perLayer.flatMap(_.get(l)))).toMap
    val perPass = extras.result()
    val extra = perPass.flatMap(_.keys).distinct.map(k => k -> Stats.median(perPass.flatMap(_.get(k)))).toMap
    Main.Run(setupS, plain, traced, meanLayers, extra)
  }

  /** One cold and one resume round in a fresh table directory, deleted
    * afterwards. Returns the pass and its snapshot and throughput figures. */
  private def iteration(spark: SparkSession, cfg: Main.Config, dir: Path, numIds: Int, meter: CacheMeter,
                        trace: Option[Trace], label: String): (Main.Pass, Map[String, Double]) = {
    Main.deleteRecursively(dir)
    Files.createDirectories(dir)
    try {
      meter.reset()
      val start = Health.mark()
      val (cold, coldLeaked) = round(spark, cfg, dir.toString, numIds, runId = 1, trace)
      val (coldBytes, coldFiles) = footprint(dir)
      val (resume, resumeLeaked) = round(spark, cfg, dir.toString, numIds, runId = 2, trace)
      val (allBytes, allFiles) = footprint(dir)
      val end = Health.mark()
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val pass = Main.Pass(label, Seq(Main.Op("cold", cold.wallS, cold.ok), Main.Op("resume", resume.wallS, resume.ok)),
        meter.peakMb, coldLeaked + resumeLeaked, start, end)
      (pass, Map(
        "cold.urls_per_s" -> cold.urls / cold.wallS,
        "resume.urls_per_s" -> resume.urls / resume.wallS,
        "cold.snapshot.bytes_per_url" -> coldBytes.toDouble / math.max(cold.urls, 1L),
        "cold.snapshot.files" -> coldFiles.toDouble,
        "resume.snapshot.bytes_per_url" -> (allBytes - coldBytes).toDouble / math.max(resume.urls, 1L),
        "resume.snapshot.files" -> (allFiles - coldFiles).toDouble))
    } finally Main.deleteRecursively(dir)
  }

  /** One crawl round as `CrawlMain` runs it, inside one cache scope. The
    * timed window ends when the seen store has committed; the checks follow.
    * Returns the round and the blocks still cached after its scope closed. */
  private def round(spark: SparkSession, cfg: Main.Config, tableDir: String, numIds: Int, runId: Int,
                    trace: Option[Trace]): (Round, Long) = {
    import spark.implicits._
    val phase = if (runId == 1) "cold" else "resume"
    def span[A](call: String, layer: String)(body: => A): A =
      trace.fold(body)(_.span(spark.sparkContext, s"$phase.$call", s"$phase.$layer")(body))
    val seed = cfg.seed
    val crawlCfg = CrawlConfig(runId = runId, shuffleSeed = seed, prefixLen = 1)
    val r = CacheScope.withScope {
      val t0 = System.nanoTime()
      val (frontier, store) = span("buildWorklist", "frontier") {
        val haveSeen = new SnapshotTable(spark, s"$tableDir/url_seen").currentVersion.isDefined
        val existing =
          if (haveSeen) Crawl.seenIds(spark, tableDir).as[String]
          else spark.emptyDataset[String]
        val lo = (runId - 1).toLong * numIds
        val discovered = spark.range(lo, lo + numIds).map(i => Ids.syntheticId(i, seed))
        val forum = spark.range(lo, lo + numIds, 41).map(i => Ids.syntheticId(i, seed))
        val store = new SeenStore(tableDir, expectedKeys = math.max(1L << 22, numIds.toLong * 8))
        (Frontier.buildWorklist(spark, existing, forum, discovered, maxNew = numIds, runId = runId,
          store = Some(store)), store)
      }
      val out = span("run", "snapshot")(Crawl.run(spark, frontier, crawlCfg, tableDir))
      val n = span("count", "fetch")(out.results.count())
      span("commitRun", "frontier") {
        store.commitRun(spark, out.results.select(SeenSet.idHash($"id").as("h")).as[Long], n,
          seenVersion = out.seenVersion,
          fullCorpusHashes = Crawl.seenIds(spark, tableDir).select(SeenSet.idHash(col("id")).as("h")).as[Long],
          fullCount = Crawl.seenIds(spark, tableDir).count())
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      Round(wallS, n, checks(spark, tableDir, frontier, out, n, numIds, crawlCfg))
    }
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    (r, Main.releaseCaches(spark))
  }

  /** The round's output checks: the results count, the `Fetcher.metrics`
    * row against the committed manifest and the committed rows, schedule
    * parity of the first 1000 rows with `VirtualClockOracle` as `CrawlMain`
    * checks it, and the seen count after the resume round. */
  private def checks(spark: SparkSession, tableDir: String, frontier: Dataset[graft.core.FrontierEntry],
                     out: Crawl.RunOutput, n: Long, numIds: Int, cfg: CrawlConfig): Boolean = {
    import spark.implicits._
    def check(what: String)(ok: Boolean): Boolean = {
      if (!ok) System.err.println(s"[perfbench] crawl run ${cfg.runId}: $what check failed")
      ok
    }
    val expectedUrls = numIds.toLong * cfg.runId
    val resultsTable = new SnapshotTable(spark, s"$tableDir/fetch_results")
    val committed = resultsTable.read().filter(col("run_id") === cfg.runId).drop("prefix", "run_id").as[FetchResult]
    val fromCommitted = Fetcher.metrics(committed).head()
    val fromResults = Fetcher.metrics(out.results).head()
    val manifest = resultsTable.metricsOf(out.resultsVersion)
    val metricsOk = fromCommitted == fromResults &&
      fromResults.schema.fieldNames.zipWithIndex.forall { case (f, i) => manifest.get(f).contains(fromResults.get(i).toString) } &&
      fromResults.getAs[Long]("n_total") == n &&
      (cfg.runId == 1 || fromResults.getAs[Long]("n_not_modified") > 0)
    val k = 1000
    val prefix = frontier.map(e => (Politeness.shuffleKey(e.id, cfg), e))
      .orderBy($"_1", $"_2.id").limit(k).collect().map(_._2).toSeq
    val parity = out.scheduled.orderBy("seq").limit(k).collect().toSeq == VirtualClockOracle.schedule(prefix, cfg)
    Seq(
      check("results count")(n == expectedUrls),
      check("metrics row")(metricsOk),
      check("order parity")(parity),
      check("seen count")(Crawl.seenIds(spark, tableDir).count() == expectedUrls)).forall(identity)
  }

  /** (bytes, files) under a table directory. */
  private def footprint(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      val files = s.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[Path])
      (files.map(p => Files.size(p)).sum, files.length.toLong)
    } finally s.close()
  }

  /** Crawl layer of a call-site frame such as
    * `graft.snapshot.SnapshotTable.commit(SnapshotTable.scala:58)`, from the
    * module of its class. `Crawl.scala`'s own action is the fetch metrics. */
  private def layerOfFrame(frame: String): Option[String] = {
    val cls = frame.takeWhile(_ != '(').split('.').dropRight(1)
    val module = if (cls.length > 2 && cls(0) == "graft") cls(1) else cls.lastOption.getOrElse("")
    module match {
      case "frontier" => Some("frontier")
      case "scheduler" | "plans" => Some("scheduler")
      case "fetch" | "Crawl$" => Some("fetch")
      case "snapshot" | "etl" => Some("snapshot")
      case _ => None
    }
  }
}
