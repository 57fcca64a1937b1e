package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query measurement harness (optimization guide §1.4): times
  * individual catalog queries through the NOOP sink (so the computation is
  * measured, not the sink or a count's column pruning) and dumps each
  * query's `explain("formatted")` plan to a directory for plan-diff review.
  *
  * NOT part of the frozen measurement contract — `graft.Bench` stays the
  * driver's surface; this main exists so optimization work can isolate and
  * re-measure one query at a time without a full sweep.
  *
  * Usage:
  *   BenchExtra [qPrefix ...]           time the matching queries (all if none)
  * Env:
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     local core count (default: all available cores)
  *   SPARK_GRAFT_REPS     timed repetitions per query (default 3, min kept)
  *   SPARK_GRAFT_PLAN_DIR if set, write <name>.txt formatted plans there
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val prefixes = args.toSeq
    val entries = Catalog.allEntries.filter { case (n, _) =>
      prefixes.isEmpty || prefixes.exists(n.startsWith)
    }

    def noop(name: String, fn: Catalog.Q): Unit = {
      spark.sparkContext.setJobDescription(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.sparkContext.setJobDescription(null)
    }

    // untimed warmup (JIT/codegen/parquet footers), mirrors graft.Bench
    entries.foreach { case (n, e) =>
      try noop(n, e.fn) catch { case t: Throwable =>
        System.err.println(s"[benchextra] warmup $n failed: ${t.getMessage}") }
    }

    val results = entries.map { case (n, e) =>
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { noop(n, e.fn); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => Double.NaN }
      }
      (n, samples.min, samples)
    }
    results.foreach { case (n, best, samples) =>
      println(f"[benchextra] $n%-36s min=$best%8.3f  samples=${samples.map(s => f"$s%.3f").mkString(",")}")
    }
    println(f"[benchextra] TOTAL(min) ${results.map(_._2).sum}%.3f over ${results.size} queries")

    planDir.foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      entries.foreach { case (n, e) =>
        try {
          val txt = e.fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, s"$n.txt"), txt)
        } catch { case t: Throwable =>
          System.err.println(s"[benchextra] plan $n failed: ${t.getMessage}") }
      }
    }
    spark.stop()
  }
}
