package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import java.nio.file.{Files, Paths}

/** Round-6 optimization harness (guide §1): NOT part of the frozen bench
  * surface — [[Bench]] is untouched. Five modes:
  *
  *  - `plans <outDir> [suffix]` — write `explain("formatted")` for every
  *    declared query to `<outDir>/<name>_<suffix>.txt` (the
  *    plans/r06 before/after evidence files);
  *  - `queries [name...]` — isolated per-query timing: noop sink
  *    (§1.4), min of 3 after one warm-up, jobs labeled (§1.5);
  *  - `crawl [tight] [reps]` — end-to-end synthetic crawls (default 2
  *    reps), each printing wall, URL rate and per-step totals; `tight`
  *    runs the budget-4 virtual-clock crawl over 10 waves instead of the
  *    budget-2048 crawl over 40;
  *  - `kernel <n> <reps> [noclear]` — one kernel pass per rep with a
  *    stage listener printing per-stage wall + shuffle bytes, to locate
  *    where kernel time goes (`noclear` replays the Bench kernel phase:
  *    a warm-up pass and no cache clear between reps);
  *  - `drain` — intake-drain dedup of one posted seed against seen sets
  *    of 16 M and 160 M hashes: the SeenState probe path vs a raw
  *    left-anti join.
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
      case "crawl" =>
        // isolated end-to-end crawl reps with per-step totals — the same
        // shape Bench.runCrawl times, runnable standalone for §1-style
        // before/after step attribution (tight: hostBudget 4 + clock)
        val tight = args.length > 1 && args(1) == "tight"
        val reps = if (args.length > 2) args(2).toInt else 2
        val cfg =
          if (sfDir.contains("0.1"))
            graft.synth.Corpus.Config(nHosts = 48, pagesPerHost = 160, linksPerPage = 10)
          else graft.synth.Corpus.Config(nHosts = 16, pagesPerHost = 64, linksPerPage = 8)
        // same corpus handling as Bench.runCrawl: parquet round-trip so the
        // per-wave plans carry a scan lineage, not the generator's
        // expression trees (which inflate driver plan time ~5x)
        val corpusKey = s"${cfg.nHosts}-${cfg.pagesPerHost}-${cfg.linksPerPage}-${cfg.seed}"
        val corpusDir = s"${sys.props("java.io.tmpdir")}/graft-bench-corpus-$corpusKey"
        if (!Files.exists(Paths.get(corpusDir, "_SUCCESS")))
          graft.synth.Corpus.toDf(spark, cfg)
            .repartition(8).write.mode("overwrite").parquet(corpusDir)
        val docs = spark.read.parquet(corpusDir).persist()
        docs.count()
        (1 to reps).foreach { i =>
          val root = Files.createTempDirectory(s"graft-extra-crawl$i").toString
          val steps = new java.util.concurrent.ConcurrentHashMap[String, Double]()
          graft.plans.CrawlJob.stepSink =
            (st, dt) => { steps.merge(st, dt, (a, b) => a + b); () }
          val jobCfg = graft.plans.CrawlJob.Config(
            seeds = Seq(graft.synth.Corpus.pageUrl(cfg, 0, 0),
              graft.synth.Corpus.pageUrl(cfg, 1, 0)),
            onDomain = false,
            hostBudget = if (tight) 4 else 2048,
            maxWaves = if (tight) 10 else 40,
            numPartitions = cpus, saltBuckets = math.max(4, cpus / 2),
            virtualClock = tight)
          val t0 = System.nanoTime()
          val m = try graft.plans.CrawlJob.run(spark, docs,
              graft.synth.Corpus.robotsRules(cfg), jobCfg, root)
            finally graft.plans.CrawlJob.stepSink = null
          val wall = (System.nanoTime() - t0) / 1e9
          val urls = m.map(x => x.fetched + x.fetch_miss + x.dedup_hits).sum +
            m.map(_.robots_blocked).sum
          import scala.jdk.CollectionConverters._
          val stepStr = steps.asScala.toSeq.sortBy(_._1)
            .map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")
          println(f"[crawl] rep=$i tight=$tight wall=$wall%.2fs urls=$urls " +
            f"rate=${urls / wall}%.0f/s steps: $stepStr")
        }
        docs.unpersist()
      case "kernel" =>
        val n = if (args.length > 1) args(1).toLong else 64000000L
        val reps = if (args.length > 2) args(2).toInt else 2
        // "noclear" replicates the frozen Bench's kernel phase exactly:
        // 1M-row warmup, then back-to-back reps with NO clearCache between
        val benchMode = args.length > 3 && args(3) == "noclear"
        @volatile var log = Vector.empty[String]
        val listener = new SparkListener {
          override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val wall = for {
              a <- si.completionTime; b <- si.submissionTime
            } yield (a - b) / 1e3
            val m = si.taskMetrics
            log :+= f"[stage] id=${si.stageId}%-4d wall=${wall.getOrElse(-1.0)}%7.2fs " +
              f"tasks=${si.numTasks}%-4d shRead=${m.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fMB " +
              f"shWrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fMB " +
              f"in=${m.inputMetrics.bytesRead / 1e6}%9.1fMB ${si.name.take(60)}"
          }
        }
        spark.sparkContext.addSparkListener(listener)
        if (benchMode) BenchKernelRunner.run(spark, math.min(n / 4, 1000000L), cpus)
        (1 to reps).foreach { i =>
          log = Vector.empty
          val t0 = System.nanoTime()
          val (wall, urls) = BenchKernelRunner.run(spark, n, cpus)
          val total = (System.nanoTime() - t0) / 1e9
          if (!benchMode) spark.catalog.clearCache()
          println(f"[kernel] rep=$i wall=$wall%.2fs (incl setup $total%.2fs) urls=$urls rate=${urls / wall}%.0f/s")
          log.foreach(println)
        }
      case "drain" =>
        // VERDICT r5 #1 evidence: intake-drain dedup cost vs seen size.
        // Times the probe-path dedup (what drainStep now calls) and the
        // old raw left-anti against the durable table, for ONE posted
        // seed, at two seen sizes an order of magnitude apart.
        import org.apache.spark.sql.functions._
        val sizes = Seq(16000000L, 160000000L)
        sizes.foreach { n =>
          val seen = new graft.plans.SeenState(spark, buckets = cpus * 2, compactAt = 8)
          val seenDf = spark.range(0, n, 1, cpus * 2)
            .select(xxhash64(concat(lit("http://h"), pmod(col("id"), lit(1000)),
              lit(".example.org/p/"), col("id"))).as("url_hash"))
          seen.bootstrap(seenDf)
          val seedBatch = Seq(("http://new-seed.example.org/p/0",
            graft.functions.UrlOps.urlHash64("http://new-seed.example.org/p/0"),
            "new-seed.example.org", 0, 0L, 0))
          import spark.implicits._
          val winners = seedBatch
            .toDF("url", "url_hash", "host", "depth", "parent_ord", "link_index")
          def time(tag: String)(f: => Unit): Unit = {
            val t0 = System.nanoTime()
            f
            println(f"[drain] seen=$n $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
          time("probe-path (freshAndConfirmed, r6 drain)") {
            seen.freshAndConfirmed(winners)
              .write.format("noop").mode("overwrite").save()
          }
          // the durable table stand-in for the old path: the prepared
          // bucketed seen pieces ARE the committed rows, so anti-join the
          // raw hash set directly (same bytes the old t.seen.read() scan+
          // shuffle paid)
          time("raw left-anti vs O(seen) table (r5 drain)") {
            winners.join(seenDf, Seq("url_hash"), "left_anti")
              .write.format("noop").mode("overwrite").save()
          }
          seen.close()
          spark.catalog.clearCache()
        }
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
