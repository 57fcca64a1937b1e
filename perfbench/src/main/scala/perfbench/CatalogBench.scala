package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.CacheScope

/** The two catalog workloads: a closed loop with one client, which sends each
  * query of the workload when the previous one finished. Every pass runs the
  * workload's queries once. In `catalog_analytics` the seed permutes their
  * order anew for each pass. `catalog_similarity` keeps catalog order: its
  * queries share frames that the first of them builds, and a permuted order
  * moved a pass's cost by about 30% between seeds.
  * Each query is materialised by [[Digest.of]], and the digest is compared
  * with the expected one after the pass, outside the timed window. Each
  * pass runs in its own cache scope and session, and every cache is
  * released after it, so frames built in one pass are never reused in the
  * next.
  */
object CatalogBench {
  final case class Query(name: String, layer: String, fn: graft.Catalog.Q)

  def run(spark: SparkSession, cfg: Main.Config, meter: CacheMeter, workload: String): Main.Run = {
    val queries = load(cfg.split, 4).collect { case Seq(n, w, l, "1") if w == workload =>
      Query(n, l, graft.Catalog.queries.getOrElse(n, (_, _) => sys.error(s"$n is not in the catalog")))
    }
    require(queries.nonEmpty, s"no queries listed for $workload in ${cfg.split}")
    val expected = load(cfg.expected, 3).map { case Seq(n, rows, digest) =>
      n -> (if (cfg.corruptDigest.contains(n)) s"$rows:corrupt" else s"$rows:$digest")
    }.toMap
    val rng = new scala.util.Random(cfg.seed)

    def pass(label: String, trace: Option[Trace]): Main.Pass = {
      val order = if (workload == "catalog_analytics") rng.shuffle(queries) else queries
      // The program memoises index frames per session, some of them local
      // checkpoints that releasing the caches destroys. A fresh session per
      // pass rebuilds them in the pass, as a first query of the day would.
      val session = Main.freshSession(spark)
      meter.reset()
      val start = Health.mark()
      val timed = CacheScope.withScope {
        order.map { q =>
          val t0 = System.nanoTime()
          val got =
            try Some(trace.fold(Digest.of(q.fn(session, cfg.data)))(
              _.span(spark.sparkContext, q.name, q.layer)(Digest.of(q.fn(session, cfg.data)))))
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[perfbench] ${q.name} failed: ${e.toString.linesIterator.nextOption().getOrElse("")}")
              None
            }
          (q, (System.nanoTime() - t0) / 1e9, got)
        }
      }
      val end = Health.mark()
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val peak = meter.peakMb
      val leaked = Main.releaseCaches(spark)
      val ops = timed.map { case (q, wall, got) =>
        val ok = got.exists(r => expected.get(q.name).contains(s"${r.rows}:${r.digest}"))
        if (got.isDefined && !ok)
          System.err.println(s"[perfbench] ${q.name} digest ${got.get.rows}:${got.get.digest} " +
            s"expected ${expected.getOrElse(q.name, "none")}")
        Main.Op(q.name, wall, ok)
      }
      Main.Pass(label, ops, peak, leaked, start, end)
    }

    System.err.println(f"[perfbench] session ready after ${Main.setupSeconds(cfg)}%.1f s")
    warmUp(spark, cfg, queries)
    val setupS = Main.setupSeconds(cfg)
    System.err.println(f"[perfbench] warm-up done after $setupS%.1f s")

    val trace = new Trace(_ => None)
    val layers = Seq.newBuilder[Map[String, Trace.Layer]]
    var i = 0
    val (plain, traced) = Main.timedPasses(cfg) { tracing =>
      i += 1
      if (!tracing) pass(s"pass$i", None)
      else {
        val (p, l) = trace.during(spark.sparkContext, cfg.cores)(pass(s"pass$i.traced", Some(trace)))
        layers += l
        p
      }
    }
    val perLayer = layers.result()
    val meanLayers = Main.CatalogLayers.map(l => l -> Trace.mean(perLayer.flatMap(_.get(l)))).toMap
    val queryTimes = plain.flatMap(_.ops).groupBy(_.name.takeWhile(_ != '_'))
      .collect { case (q, ops) if Main.TrackedQueries.contains(q) => s"query.${q}_s" -> Stats.median(ops.map(_.wallS)) }
    Main.Run(setupS, plain, traced, meanLayers, queryTimes)
  }

  /** The untimed warm-up: each query once, on `cores` client threads, so
    * that JIT and code generation are paid in set-up on all cores. Failures
    * here are left to the timed passes to count. */
  private def warmUp(spark: SparkSession, cfg: Main.Config, queries: Seq[Query]): Unit = {
    val session = Main.freshSession(spark)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.cores)
    try {
      queries.map(q => pool.submit(new Runnable {
        def run(): Unit = try Digest.of(q.fn(session, cfg.data)) catch { case scala.util.control.NonFatal(_) => () }
      })).foreach(_.get())
    } finally pool.shutdown()
    Main.releaseCaches(spark)
  }

  /** Tab-separated rows of `width` fields, `#` comments skipped. */
  def load(p: Path, width: Int): Seq[Seq[String]] =
    Files.readAllLines(p).asScala.toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val f = l.split("\t").toSeq
      require(f.size == width, s"$p: bad line: $l")
      f
    }
}
