package crawlbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Crawl benchmark entry point (see crawlbench/README.md).
  *
  * `crawlbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --spans <file>` runs one workload in one JVM against `local[cores]`:
  * set-up (repeated, median reported), a closed-loop timed window, then an
  * output check of every operation against an independent reference. It
  * prints a `report` JSON line with every metric it measured, then a
  * `result` line with the metrics BENCHMARK.json names. */
object Main {

  /** `work`: scratch directory; `spans`: where a traced run writes its spans. */
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, spans: String)

  final case class Metric(name: String, value: Double, unit: String)

  /** Outcome of one workload run. `report` holds every measured number. */
  final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
      endToEnd: Seq[Metric], perLayer: Seq[Metric], report: Seq[(String, String)],
      spans: Option[Spans])

  /** `sessionS`: JVM start until the Spark session is up. */
  final case class Ctx(spark: SparkSession, counts: SparkCounts, args: Args, cpus: Int,
      sessionS: Double) {
    def work(name: String): String = s"${args.work}/$name"
  }

  /** Metric names printed on the result line, shared by every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "urls_per_s" -> "1/s", "wave_p50_s" -> "s", "state_mb" -> "MB")
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_wave" -> "count", "spark.stages_per_wave" -> "count",
    "spark.tasks_per_wave" -> "count", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.busy_share" -> "share",
    "spark.idle_share" -> "share", "spark.held_storage_mb" -> "MB",
    "seenstate.bootstrap_s" -> "s", "icelite.commits_per_wave" -> "count",
    "icelite.files" -> "count")

  val Workloads = Seq("crawl_tight", "kernel_mature")

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def progress(msg: String): Unit =
    System.err.println(f"crawlbench: ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f s $msg")

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      kv("work"), kv("spans"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  private def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("crawlbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(a.work))
    val spark = session(cpus, a.work)
    val counts = new SparkCounts
    spark.sparkContext.addSparkListener(counts)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = Ctx(spark, counts, a, cpus, sessionS)
    val o =
      try a.workload match {
        case "crawl_tight" => CrawlWorkload.run(ctx)
        case "kernel_mature" => KernelWorkload.run(ctx)
      } finally spark.stop()

    o.spans.foreach { s =>
      Files.write(Paths.get(a.spans), s.toJson.getBytes("UTF-8"))
      progress(s"spans written to ${a.spans}")
    }
    def metrics(ms: Seq[Metric]): String = Json.obj(ms.map { m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    })
    println(Json.obj(Seq("report" -> Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
      "cores" -> cpus.toString, "jvm_and_session_s" -> Json.num(sessionS),
      "errors" -> o.errors.map(Json.str).mkString("[", ",", "]")) ++ o.report))))
    val correct = o.failed == 0
    val shown = if (a.trace) o.perLayer else o.endToEnd
    println("CRAWLBENCH_RESULT " + Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString, "metrics" -> metrics(shown))))
    if (!correct) {
      o.errors.foreach(e => System.err.println(s"crawlbench: MISMATCH $e"))
      sys.exit(1)
    }
  }
}
