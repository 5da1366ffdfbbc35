package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import java.nio.file.{Files, Paths}

/** Optimization harness for the query battery: NOT part of the frozen
  * bench surface — [[Bench]] is untouched. Two modes:
  *
  *  - `plans <outDir> [suffix]` — write `explain("formatted")` for every
  *    declared query to `<outDir>/<name>_<suffix>.txt` (the
  *    plans/r06 before/after evidence files);
  *  - `queries [name...]` — isolated per-query timing: noop sink
  *    (§1.4), min of 3 after one warm-up, jobs labeled (§1.5).
  *
  * The crawl, kernel and drain timings live in `crawlbench` (its
  * `--trace 1` runs carry per-step and per-stage numbers) and in
  * `bench_logs/r6_drain_cost.log`.
  *
  * Env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS (core count) —
  * same contract as Bench.
  */
object BenchExtra {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = session(cpus)
    args.headOption.getOrElse("queries") match {
      case "plans" =>
        val outDir = args(1)
        val suffix = if (args.length > 2) args(2) else "before"
        Files.createDirectories(Paths.get(outDir))
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          println(s"[plans] wrote $name")
          spark.catalog.clearCache()
        }
      case "queries" =>
        val only = args.drop(1).toSet
        val sel = SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (n, _) => only.isEmpty || only.contains(n) }
        val times = sel.map { case (name, fn) =>
          def once(): Double = {
            spark.sparkContext.setJobDescription(name)
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            (System.nanoTime() - t0) / 1e9
          }
          once() // warm-up (JIT)
          val t = (1 to 3).map(_ => once()).min
          spark.catalog.clearCache()
          println(f"[query] $name%-24s ${t}%.3f s (min of 3, warm)")
          name -> t
        }
        val js = times.map { case (k, v) =>
          "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
        println(s"""{"extra_queries":$js,"sf":"$sfDir"}""")
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
