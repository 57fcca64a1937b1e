package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Generators for the benchmark's committed data files; `tools/` drives
  * them. Neither runs during a benchmark run.
  *
  *  - `split DATA OUT`: for every catalog query, whether it reaches
  *    `graft.sim` (see [[SimProbe]]), as `name<TAB>0|1` lines.
  *  - `digests DATA OUT DUMP`: every catalog query's row count and
  *    [[Digest]] as `name<TAB>rows<TAB>digest` lines. Each result is also
  *    written to `DUMP/<name>` as parquet, with the oracles in
  *    `DUMP/oracle_sql.json`, for the DuckDB cross-check; a digest that the
  *    parquet copy does not reproduce is reported and the tool fails.
  *  - `session`: start a Spark session, run one query and stop; the build
  *    runs it to record the classes a session loads.
  */
object Tools {
  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val builder = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (args(0) == "session") {
      val spark = builder.getOrCreate()
      try spark.range(10).selectExpr("sum(id)").collect() finally spark.stop()
      return
    }
    val spark = (if (args(0) == "split") builder.config("spark.sql.extensions", classOf[SimProbe].getName)
                 else builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val data = args(1)
    val entries = graft.Catalog.allEntries
    val lines = args(0) match {
      case "split" =>
        spark.sparkContext.addSparkListener(SimProbe.Jobs)
        entries.map { case (name, e) =>
          val session = Main.freshSession(spark)
          SimProbe.hit = false
          Digest.of(e.fn(session, data))
          org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
          Main.releaseCaches(spark)
          s"$name\t${if (SimProbe.hit) 1 else 0}"
        }
      case "digests" =>
        val dump = Paths.get(args(3))
        Files.createDirectories(dump)
        var bad = 0
        val out = entries.map { case (name, e) =>
          val session = Main.freshSession(spark)
          val live = Digest.of(e.fn(session, data))
          val path = dump.resolve(name).toString
          e.fn(session, data).coalesce(1).write.mode("overwrite").parquet(path)
          val copy = Digest.of(spark.read.parquet(path))
          if (copy != live) { bad += 1; System.err.println(s"[perfbench] $name: parquet copy $copy, live $live") }
          Main.releaseCaches(spark)
          s"$name\t${live.rows}\t${live.digest}"
        }
        Files.writeString(dump.resolve("oracle_sql.json"),
          Json.obj(graft.Catalog.oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
        if (bad > 0) { spark.stop(); sys.exit(1) }
        out
    }
    spark.stop()
    Files.writeString(Paths.get(args(2)), lines.mkString("", "\n", "\n"))
  }
}

/** Marks whether `graft.sim` code takes part in a query: it is on the
  * driver's stack when Spark analyses a plan or starts a job, or a plan
  * holds a function, expression or operator whose class is in `graft.sim`. */
class SimProbe extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = e.injectResolutionRule(_ => SimProbe.Check)
}

object SimProbe {
  @volatile var hit = false

  private def sim(x: AnyRef): Boolean = x.getClass.getName.startsWith("graft.sim.")
  private def refersToSim(p: Product with AnyRef): Boolean =
    sim(p) || p.productIterator.exists { case x: AnyRef => sim(x); case _ => false }
  private def onStack: Boolean = Thread.currentThread.getStackTrace.exists(_.getClassName.startsWith("graft.sim."))

  object Check extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = {
      if (!hit && (onStack || plan.exists(n => refersToSim(n) || n.expressions.exists(_.exists(refersToSim)))))
        hit = true
      plan
    }
  }

  object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.stageInfos.exists(_.details.contains("graft.sim."))) hit = true
  }
}
