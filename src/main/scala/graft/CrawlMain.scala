package graft

import graft.plans.CrawlJob
import graft.synth.Corpus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicBoolean

/** spark-submit entry point for the crawl engine — the CLI twin of the
  * reference's `POST /crawl` (serving/handlers.go:25-96).
  *
  * Usage:
  *   spark-submit --class graft.CrawlMain <jar> \
  *     --docs <parquet path|synth:<hosts>x<pages>> --state <state root> \
  *     --seed <url> [--seed <url> ...] [--on-domain] [--host-budget N]
  *     [--max-waves N] [--partitions N] [--emit-visit-order]
  *     [--robots <parquet of (host,path_prefix,allow,crawl_delay)>]
  *     [--robots-txt <parquet of (host,body) raw robots.txt>] [--agent TOKEN]
  *     [--max-retries N] [--stream <dir of seed-request json files>]
  *     [--intake-idle-sec N] [--probe-url <url>]
  *
  * Validation mirrors the handler: invalid seed → exit 400-style error;
  * the job itself runs to completion (or resumes from the state root's
  * last committed wave).
  *
  * Graceful stop (reference analog: serving/routes.go:61-85 — finish
  * in-flight work, then exit): SIGTERM/SIGINT set a flag the wave loop
  * checks BETWEEN waves — the current wave finishes and commits, so a
  * later run resumes from a clean marker with zero replay.
  */
object CrawlMain {
  def main(args: Array[String]): Unit = {
    var docsPath = ""
    var state = ""
    var seeds = Vector.empty[String]
    var onDomain = false
    var hostBudget = 64
    var maxWaves = 64
    var partitions = 32
    var emitOrder = false
    var robotsPath = ""
    var robotsTxtPath = ""
    var agent = "graftbot"
    var maxRetries = 0
    var expireKeep = 16
    var streamDir = ""
    var virtualClock = false
    var probeUrl = ""
    var intakeIdleSec = 5
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--docs" => docsPath = args(i + 1); i += 2
        case "--state" => state = args(i + 1); i += 2
        case "--seed" => seeds :+= args(i + 1); i += 2
        case "--on-domain" => onDomain = true; i += 1
        case "--host-budget" => hostBudget = args(i + 1).toInt; i += 2
        case "--max-waves" => maxWaves = args(i + 1).toInt; i += 2
        case "--partitions" => partitions = args(i + 1).toInt; i += 2
        case "--emit-visit-order" => emitOrder = true; i += 1
        case "--robots" => robotsPath = args(i + 1); i += 2
        case "--robots-txt" => robotsTxtPath = args(i + 1); i += 2
        case "--agent" => agent = args(i + 1); i += 2
        case "--max-retries" => maxRetries = args(i + 1).toInt; i += 2
        case "--expire-keep" => expireKeep = args(i + 1).toInt; i += 2
        case "--stream" => streamDir = args(i + 1); i += 2
        case "--intake-idle-sec" => intakeIdleSec = args(i + 1).toInt; i += 2
        case "--virtual-clock" => virtualClock = true; i += 1
        case "--probe-url" => probeUrl = args(i + 1); i += 2
        case other => System.err.println(s"unknown arg: $other"); sys.exit(2)
      }
    }
    // --probe-url: manifest-pruned point lookup against an existing state
    // root — no docs/seeds/crawl involved
    if (probeUrl.nonEmpty) {
      if (state.isEmpty) { System.err.println("required: --state <dir>"); sys.exit(2) }
      val spark = SparkSession.builder().appName("graft-probe")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val hit = graft.plans.CrawlJob.probeUrl(spark, state, probeUrl)
        val rows = hit.collect()
        println(s"scanned_files=${hit.inputFiles.length} hits=${rows.length}")
        rows.take(5).foreach(r => println(r.mkString("| ", " | ", " |")))
      } catch {
        case e: IllegalStateException =>
          // fresh/empty state root: report not-found, don't crash the CLI
          println(s"scanned_files=0 hits=0 (${e.getMessage})")
      }
      spark.stop()
      return
    }
    if (docsPath.isEmpty || state.isEmpty || (seeds.isEmpty && streamDir.isEmpty)) {
      System.err.println(
        "required: --docs <path> --state <dir> and --seed <url> or --stream <dir>")
      sys.exit(2)
    }
    // seed validation = handler semantics (handlers.go:41-69 + Init 400)
    val invalid = seeds.filter(s => graft.functions.UrlOps.canonicalize(s) == null)
    if (invalid.nonEmpty) {
      System.err.println(s"400: invalid seed URL(s): ${invalid.mkString(", ")}")
      sys.exit(1)
    }

    // graceful-stop flag: the wave loop polls it between waves
    val stopFlag = new AtomicBoolean(false)
    installStopHandlers(stopFlag)

    val spark = SparkSession.builder()
      .appName("graft-crawl")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (docs, defaultRules) =
      if (docsPath.startsWith("synth:")) {
        val Array(h, p) = docsPath.stripPrefix("synth:").split("x")
        val cfg = Corpus.Config(nHosts = h.toInt, pagesPerHost = p.toInt)
        // Corpus.toDf slices the driver-generated Seq so no task binary
        // exceeds Spark's closure-size recommendation; repartition + pin
        // it resident — caching is what makes the synth corpus a
        // distributed table at all.
        val d = Corpus.toDf(spark, cfg)
          .repartition(partitions).persist()
        d.count()
        (d, Corpus.robotsRules(cfg))
      } else
        // plain parquet corpus: leave residency to the OS page cache /
        // Spark scan — a corpus larger than the storage budget must NOT
        // be force-materialized up front (ADVICE r1)
        (spark.read.parquet(docsPath), Seq.empty[graft.model.RobotsRule])

    // --stream: always-on intake running CONCURRENTLY with the wave loop
    // (the reference's POST /crawl, serving/routes.go:94-96 — Init
    // returns while the crawl goroutine runs, crawler.go:63-67). The
    // streaming query owns the seed INBOX table (idempotent per-batch
    // enqueue); the wave loop drains the inbox at every wave boundary
    // (CrawlJob.drainInbox), so a seed POSTed mid-crawl joins the next
    // wave. Single writer per table — no cross-writer commit races. With
    // the frontier drained, the loop idles for `--intake-idle-sec`
    // (deadline refreshed by new intake) before ending the crawl. A fresh
    // root's seeds are enqueued before the stream starts, so the inbox
    // never has two writers.
    val intake: Option[org.apache.spark.sql.streaming.StreamingQuery] =
      if (streamDir.isEmpty) None
      else {
        val t = CrawlJob.tables(state, spark)
        CrawlJob.enqueueSeeds(spark, t, seeds)
        val schema = graft.streaming.StreamOps.crawlRequestSchema
          .add("seq", org.apache.spark.sql.types.LongType)
        val req = spark.readStream.schema(schema).json(streamDir)
        Some(graft.streaming.StreamOps.seedEntries(req)
          .writeStream
          .foreachBatch(
            graft.streaming.StreamOps.enqueueSeedBatch(t.inbox, Some(t.frontier)) _)
          .option("checkpointLocation", s"$state/intake_checkpoint")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
          .start())
      }
    val intakeActive: () => Boolean = intake match {
      case None => () => false
      case Some(q) =>
        val inbox = CrawlJob.tables(state, spark).inbox
        val idleNanos = intakeIdleSec.toLong * 1000L * 1000L * 1000L
        var lastV = Long.MinValue
        var lastCall = 0L
        var deadline = 0L
        () => {
          val now = System.nanoTime()
          val v = inbox.currentVersion.toLong
          // refresh the idle deadline on new intake, or when the loop is
          // returning from a stretch of actual crawling (gap > 2 s)
          if (v != lastV || now - lastCall > 2L * 1000 * 1000 * 1000) {
            lastV = v; deadline = now + idleNanos
          }
          lastCall = now
          q.isActive && now < deadline
        }
    }

    val jobCfg = CrawlJob.Config(seeds, onDomain, hostBudget, maxWaves, partitions,
      maxRetries = maxRetries, snapshotKeep = expireKeep,
      virtualClock = virtualClock, stopRequested = () => stopFlag.get(),
      intakeActive = intakeActive)

    // robots: an explicit rules table wins; synth corpora default to their
    // own generated rules; plain parquet corpora default to allow-all.
    // The rules DataFrame goes to the engine AS a DataFrame — the
    // compile-vs-join cutover (and any driver-side collect) happens behind
    // Robots.policyFromDf, so a 10^7-host rules table never lands on the
    // driver (ADVICE r1: the unconditional collect is gone).

    // --robots-txt wins over --robots: RAW robots.txt bodies — the shape
    // a real robots corpus has (the reference consumes exactly this via
    // colly → temoto/robotstxt, go.mod:22 / crawler.go:76) — compile
    // DISTRIBUTED (RFC 9309, wildcard-aware) behind the same size-adaptive
    // policy cutover; the driver never holds a rule above it.
    val metrics =
      if (robotsTxtPath.nonEmpty) {
        val bodies = spark.read.parquet(robotsTxtPath).select(col("host"), col("body"))
        CrawlJob.runWithPolicy(spark, docs,
          graft.operators.RobotsTxt.policyFromTxt(bodies, agent), jobCfg, state)
      } else if (robotsPath.isEmpty)
        CrawlJob.run(spark, docs, defaultRules, jobCfg, state)
      else {
        val rulesDf = spark.read.parquet(robotsPath)
          .select(col("host"), col("path_prefix"), col("allow"), col("crawl_delay"))
        CrawlJob.runWithPolicy(spark, docs,
          graft.operators.Robots.policyFromDf(rulesDf), jobCfg, state)
      }

    intake.foreach(q => scala.util.Try(q.stop()))
    metrics.foreach(m => println(
      s"wave=${m.wave} fetched=${m.fetched} deferred=${m.deferred} " +
        s"robots_blocked=${m.robots_blocked} dedup_hits=${m.dedup_hits} " +
        s"fetch_miss=${m.fetch_miss} retried=${m.retried}"))
    if (stopFlag.get())
      println(s"graceful-stop: committed through wave ${metrics.size - 1}; " +
        "re-run with the same --state to resume")
    if (emitOrder)
      CrawlJob.visitOrder(spark, state)
        .orderBy(col("rank")).show(50, truncate = false)
    spark.stop()
  }

  /** SIGTERM/SIGINT → finish-current-wave-then-commit. sun.misc.Signal
    * (jdk.unsupported, present on the JDKs Spark supports) replaces the
    * default terminate action; if unavailable, fall back to default
    * signal behavior (kill/resume still guarantees exactness). */
  private def installStopHandlers(flag: AtomicBoolean): Unit =
    Seq("TERM", "INT").foreach { name =>
      try {
        sun.misc.Signal.handle(new sun.misc.Signal(name),
          (_: sun.misc.Signal) => {
            if (!flag.getAndSet(true))
              System.err.println(s"SIG$name: finishing current wave, then committing and exiting")
          })
      } catch { case _: Throwable => () }
    }
}
