package crawlbench

import crawlbench.Main.{Ctx, Metric, Outcome}
import graft.functions.UrlOps
import graft.model.{RobotsRule, WaveMetrics}
import graft.oracle.CrawlOracle
import graft.plans.{CrawlJob, SeenState}
import graft.streaming.StreamOps
import graft.synth.Corpus
import org.apache.spark.sql.DataFrame

import scala.collection.mutable.ArrayBuffer

/** crawl_tight: one `CrawlJob.run` crawl on a synthetic corpus generated
  * from the seed, with a politeness budget of 4 on the virtual clock. Every
  * host is seeded, so from wave 1 on each wave fetches its per-host budget
  * (about 130 URLs) while the deferred frontier grows: per-wave job and
  * commit latency dominates, not data volume. The crawl stops half way
  * through its timed waves and resumes on the same state root, and one
  * seed is posted through the intake sink mid-crawl. Every wave is checked
  * against `CrawlOracle.run` on the same corpus and config. */
object CrawlWorkload {

  def corpus(seed: Long): Corpus.Config =
    Corpus.Config(nHosts = 48, pagesPerHost = 128, linksPerPage = 8, seed = seed)
  def seeds(c: Corpus.Config): Seq[String] = (0 until c.nHosts).map(h => Corpus.pageUrl(c, h, 0))
  val HostBudget = 4
  val SetupReps = 3
  // Wave 0 is the warm-up: timing begins when it commits.
  val WarmupWaves = 1
  // A timed wave takes about this long on 4 cores; the crawl runs
  // `seconds / NominalWaveS` timed waves, so every run of one length does
  // the same work.
  val NominalWaveS = 8
  /** Wave count at which each leg stops: the crawl stops half way through
    * the timed waves and resumes for the rest. */
  def legs(seconds: Int): Seq[Int] = {
    val timed = math.max(2, seconds / NominalWaveS)
    Seq(WarmupWaves + timed / 2, WarmupWaves + timed)
  }
  // off-corpus, so no link reaches it and its fetch is a miss: discovery
  // cannot race the intake measurement
  val ProbeUrl = "http://intake-probe.example.org/p/0"
  val ProbeAfterWave = 1

  /** One crawl: its legs, wave ends and counts. Waves before `timedFrom`
    * are the warm-up. */
  final case class Crawl(root: String, runStartMs: Double, timedFromMs: Double, endMs: Double,
      legs: Seq[(Double, Double, Seq[Double])], metrics: Seq[WaveMetrics], enqueueS: Double,
      counts: Snap, before: Snap, heldBytes: Long, steps: Seq[(String, Double)]) {
    def warmupS: Double = (timedFromMs - runStartMs) / 1000
    def timedS: Double = (endMs - timedFromMs) / 1000
    /** Wall of every timed wave: from the previous wave's end, or from its
      * leg's start for the first wave of a leg. */
    def waveS: Seq[Double] = legs.flatMap { case (a, _, ends) =>
      ends.zip(a +: ends).map { case (e, prev) => (e, (e - prev) / 1000) }
    }.drop(WarmupWaves).map(_._2)
    def timedMetrics: Seq[WaveMetrics] = metrics.drop(WarmupWaves)
    def urls: Long =
      timedMetrics.map(m => m.fetched + m.fetch_miss + m.dedup_hits + m.robots_blocked).sum
    /** Wall of the `CrawlJob.run` calls, warm-up wave included. */
    def crawlS: Double = legs.map { case (a, b, _) => b - a }.sum / 1000
    def resumeS: Double = legs.drop(1).headOption
      .map { case (a, _, ends) => (ends.head - a) / 1000 }.getOrElse(0.0)
  }

  private def jobConfig(c: Corpus.Config, cpus: Int, maxWaves: Int,
      onWaveEnd: Int => Unit): CrawlJob.Config =
    CrawlJob.Config(seeds = seeds(c), onDomain = false, hostBudget = HostBudget,
      maxWaves = maxWaves, numPartitions = cpus, saltBuckets = math.max(4, cpus / 2),
      virtualClock = true, onWaveEnd = onWaveEnd)

  private def enqueueProbe(ctx: Ctx, root: String): Unit = {
    import ctx.spark.implicits._
    val entry = Seq((ProbeUrl, UrlOps.urlHash64(ProbeUrl), UrlOps.hostOf(UrlOps.parse(ProbeUrl).authority),
      0, 0L, 0)).toDF("url", "url_hash", "host", "depth", "parent_ord", "link_index")
    StreamOps.enqueueSeedBatch(CrawlJob.tables(root, ctx.spark).inbox)(entry, 0L)
  }

  /** The workload's one crawl, leg by leg on one state root. Timing begins
    * when the warm-up wave commits. */
  private def crawl(ctx: Ctx, c: Corpus.Config, docs: DataFrame, rules: Seq[RobotsRule],
      root: String, seconds: Int, spans: Option[Spans]): Crawl = {
    val spark = ctx.spark
    val before = ctx.counts.snap(spark)
    val held0 = Storage.heldBytes(spark)
    val metrics = ArrayBuffer.empty[WaveMetrics]
    val stepLog = ArrayBuffer.empty[(String, Double, Double)]
    val legLog = ArrayBuffer.empty[(Double, Double, Seq[Double])]
    var enqueue: (Double, Double) = (0.0, 0.0)
    var timedFrom = Double.NaN
    var waves = 0
    if (spans.isDefined) CrawlJob.stepSink = (step, dt) => {
      val now = Clock.nowMs
      stepLog.synchronized(stepLog += ((step, now - dt * 1000, now)))
    }
    val t0 = Clock.nowMs
    try legs(seconds).foreach { maxWaves =>
      val legStart = Clock.nowMs
      val ends = ArrayBuffer.empty[Double]
      val onEnd: Int => Unit = w => {
        val now = Clock.nowMs
        ends += now
        waves += 1
        if (waves == WarmupWaves) timedFrom = now
        if (w == ProbeAfterWave) {
          val e0 = Clock.nowMs
          enqueueProbe(ctx, root)
          enqueue = (e0, Clock.nowMs)
        }
      }
      metrics ++= CrawlJob.run(spark, docs, rules, jobConfig(c, ctx.cpus, maxWaves, onEnd), root)
      legLog += ((legStart, Clock.nowMs, ends.toSeq))
    } finally CrawlJob.stepSink = null
    val t1 = Clock.nowMs
    val after = ctx.counts.snap(spark)
    val held = Storage.heldBytes(spark) - held0
    Main.progress(f"crawl: ${metrics.size} waves, ${(t1 - t0) / 1000}%.2f s " +
      f"(warm-up ${(timedFrom - t0) / 1000}%.2f s)")

    spans.foreach { s =>
      val run = s.add("crawl", t0, t1, -1)
      val nested = ArrayBuffer(run)
      legLog.foreach { case (a, b, ends) =>
        val leg = s.add("crawljob.run", a, b, run)
        nested += leg
        val bounds = ends.zip(a +: ends).map { case (e, prev) => (prev, e) }
        val waveIds = bounds.map { case (wa, wb) => s.add("wave", wa, wb, leg) }
        nested ++= waveIds
        def waveOf(t: Double): Int = bounds.indexWhere { case (wa, wb) => t > wa && t <= wb + 1 }
        stepLog.filter { case (_, _, e) => e >= a && e <= b + 1 }.foreach { case (n, sa, sb) =>
          val wi = waveOf(sb)
          nested += s.add(s"crawljob.$n", sa, sb, if (wi >= 0) waveIds(wi) else leg)
        }
        if (enqueue._1 >= a && enqueue._1 <= b) {
          val wi = waveOf(enqueue._2)
          nested += s.add("intake.enqueue", enqueue._1, enqueue._2,
            if (wi >= 0) waveIds(wi) else leg)
        }
      }
      s.attachJobs(ctx.counts.jobsSince(before), nested.toSeq)
    }
    // step totals over the timed waves only
    val steps = stepLog.filter(_._3 > timedFrom)
      .groupMapReduce(_._1)(x => (x._3 - x._2) / 1000)(_ + _).toSeq.sortBy(_._1)
    Crawl(root, t0, timedFrom, t1, legLog.toSeq, metrics.toSeq,
      (enqueue._2 - enqueue._1) / 1000, after.minus(before), before, held, steps)
  }

  /** Output check against the oracle, one verdict per wave: the wave's
    * visits in rank order, its WaveMetrics, and the seen rows it admitted
    * (seeds count for wave 0). With the intake probe, the probe must be
    * visited once, in the wave after the enqueue, and is otherwise left out
    * (the oracle has no intake); its fetch miss is taken off that wave.
    * Returns a message per failing wave and the probe's visit waves. */
  private def check(ctx: Ctx, oracle: CrawlOracle.Result, c: Crawl): (Seq[String], Seq[Int]) = {
    val spark = ctx.spark
    val visits = CrawlJob.visitOrder(spark, c.root, ctx.cpus).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
    val probeWaves = visits.filter(_._3 == ProbeUrl).map(_._2)
    val gotVisits = visits.filterNot(_._3 == ProbeUrl).groupMap(_._2)(_._3)
    val wantVisits = oracle.visits.groupMap(_.wave)(_.url)
    val seenRows = CrawlJob.tables(c.root, spark).seen.read().select("url_hash", "url", "wave")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    val probeSeen = seenRows.count(_._2 == ProbeUrl)
    def byWave(rows: Seq[(Long, String, Int)]) =
      rows.groupMap(r => math.max(0, r._3 - 1))(r => (r._1, r._2)).map { case (w, v) => w -> v.toSet }
    val gotSeen = byWave(seenRows.filterNot(_._2 == ProbeUrl))
    val wantSeen = byWave(oracle.seen.map(s => (s.url_hash, s.url, s.wave)))
    val gotMetrics = c.metrics.map { m =>
      if (m.wave == ProbeAfterWave + 1) m.copy(fetch_miss = m.fetch_miss - 1) else m
    }
    val errs = (0 until math.max(gotMetrics.size, oracle.metrics.size)).flatMap { w =>
      val bad = Seq(
        "visits" -> (gotVisits.get(w) != wantVisits.get(w)),
        "metrics" -> (gotMetrics.lift(w) != oracle.metrics.lift(w)),
        "seen" -> (gotSeen.get(w) != wantSeen.get(w)),
        s"intake probe (visited in waves $probeWaves, seen $probeSeen times)" ->
          (w == ProbeAfterWave + 1 &&
            (probeWaves != Seq(w) || probeSeen != 1))).filter(_._2).map(_._1)
      if (bad.isEmpty) None else Some(s"wave $w: ${bad.mkString(", ")} differ from the oracle")
    }
    (errs, probeWaves)
  }

  final case class StateStats(bytes: Long, files: Long, commits: Long, tableBytes: Seq[(String, Long)])

  /** Bytes and files under the state root; IceLite commits as the sum over
    * tables of `currentVersion + 1`. */
  private def stateStats(ctx: Ctx, root: String): StateStats = {
    val t = CrawlJob.tables(root, ctx.spark)
    val tables = Seq(t.frontier, t.seen, t.visits, t.docs, t.docsFlat, t.metrics, t.failed,
      t.filters, t.clock, t.inbox, t.consumed)
    StateStats(Storage.dirBytes(Storage.path(root)), Storage.dirFiles(Storage.path(root)),
      tables.map(_.currentVersion + 1L).sum,
      tables.map(tb => Storage.path(tb.root).getFileName.toString -> Storage.dirBytes(Storage.path(tb.root))))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val a = ctx.args
    val web = corpus(a.seed)
    val rules = Corpus.robotsRules(web)

    // set-up, repeated: generate, write and load the corpus
    var docs: DataFrame = null
    val setupS = (1 to SetupReps).map { i =>
      if (docs != null) docs.unpersist(blocking = true)
      val t0 = Clock.nowMs
      val dir = ctx.work(s"corpus-$i")
      Corpus.toDf(spark, web).repartition(ctx.cpus * 2).write.parquet(dir)
      docs = spark.read.parquet(dir).persist()
      docs.count()
      val dt = (Clock.nowMs - t0) / 1000
      Main.progress(f"corpus set-up $i in $dt%.2f s")
      dt
    }
    val spans = if (a.trace) Some(new Spans) else None
    val c = crawl(ctx, web, docs, rules, ctx.work("state"), a.seconds, spans)
    val stats = stateStats(ctx, c.root)

    val oracle = CrawlOracle.run(Corpus.generate(web), rules,
      CrawlOracle.CrawlConfig(seeds(web), onDomain = false, hostBudget = HostBudget,
        maxWaves = c.metrics.size, virtualClock = true))
    // one operation per wave: a wave fails when any of its outputs differ
    val (errors, probeWaves) = check(ctx, oracle, c)
    val attempted = math.max(c.metrics.size, oracle.metrics.size).toLong
    val failed = errors.size.toLong

    // SeenState bootstrap over the finished crawl's durable seen table: the
    // full-rebuild path a resume takes when the filter bank is stale
    val bootstrapS = if (!a.trace) Nil else (1 to 3).map { _ =>
      val cfg = jobConfig(web, ctx.cpus, 0, _ => ())
      val seen = new SeenState(spark, cfg.seenBuckets, false, cfg.bloomItems, cfg.bloomFpp,
        cfg.compactPieces, bankRoot = ctx.work("bank"))
      val t0 = Clock.nowMs
      try seen.bootstrap(CrawlJob.tables(c.root, spark).seen.read())
      finally seen.close()
      val t1 = Clock.nowMs
      spans.foreach(_.add("seenstate.bootstrap", t0, t1, -1))
      (t1 - t0) / 1000
    }
    Storage.deleteTree(Storage.path(c.root))
    docs.unpersist(blocking = true)

    val waves = c.metrics.size.toDouble
    val (busyUnion, busySum) = ctx.counts.taskTime(c.before, c.timedFromMs, c.endMs)
    val timedMs = c.timedS * 1000
    val setup = ctx.sessionS + Stats.median(setupS) + c.warmupS
    val m = Map(
      "setup_s" -> setup,
      "urls_per_s" -> c.urls / c.timedS,
      "wave_p50_s" -> Stats.median(c.waveS),
      "state_mb" -> stats.bytes / 1e6,
      "spark.jobs_per_wave" -> c.counts.jobs / waves,
      "spark.stages_per_wave" -> c.counts.stages / waves,
      "spark.tasks_per_wave" -> c.counts.tasks / waves,
      "spark.shuffle_write_mb" -> c.counts.shuffleWrite / 1e6 / waves,
      "spark.shuffle_read_mb" -> c.counts.shuffleRead / 1e6 / waves,
      "spark.spill_mb" -> c.counts.spill / 1e6 / waves,
      "spark.busy_share" -> busySum / (timedMs * ctx.cpus),
      "spark.idle_share" -> (1 - busyUnion / timedMs),
      "spark.held_storage_mb" -> c.heldBytes / 1e6,
      "seenstate.bootstrap_s" -> (if (bootstrapS.isEmpty) Double.NaN else Stats.median(bootstrapS)),
      "icelite.commits_per_wave" -> stats.commits / waves,
      "icelite.files" -> stats.files.toDouble)
    val endToEnd = Main.EndToEnd.map { case (n, u) => Metric(n, m(n), u) }
    val perLayer = Main.PerLayer.map { case (n, u) => Metric(n, m(n), u) }

    val tail = Stats.tail(c.waveS).map { case (q, v) => s"wave_${q}_s" -> Json.num(v) }.toSeq
    val tables = stats.tableBytes.map { case (n, b) => s"icelite.${n}_mb" -> Json.num(b / 1e6) }
    val probe = Seq(
      "intake.enqueue_s" -> Json.num(c.enqueueS),
      "intake.wait_waves" -> probeWaves.map(w => (w - ProbeAfterWave).toString).mkString("[", ",", "]"))
    val traceReport = spans.map { s =>
      val stepTotals = c.steps.map { case (n, v) => s"crawljob.${n}_s" -> Json.num(v) }
      Seq("per_layer" -> Json.obj(perLayer.map(x => x.name -> Json.num(x.value)) ++ stepTotals),
        "self_s" -> Json.obj(s.selfSeconds.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    }.getOrElse(Nil)
    val report = Seq(
      "setup_s" -> Json.num(setup),
      "setup_reps_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(c.warmupS),
      "timed_s" -> Json.num(c.timedS),
      "waves" -> c.metrics.size.toString,
      "timed_urls" -> c.urls.toString,
      "urls_per_s" -> Json.num(m("urls_per_s")),
      "crawl_s" -> Json.num(c.crawlS),
      "wave_p50_s" -> Json.num(m("wave_p50_s")),
      "wave_samples" -> Json.obj(Seq("n" -> c.waveS.size.toString,
        "values" -> c.waveS.map(Json.num).mkString("[", ",", "]")))) ++ tail ++ Seq(
      "resume_s" -> Json.num(c.resumeS),
      "state_mb" -> Json.num(m("state_mb")),
      "held_storage_mb" -> Json.num(m("spark.held_storage_mb")),
      "failed_ratio" -> Json.num(failed.toDouble / attempted),
      "wave_metrics" -> c.metrics.map(w => Json.str(w.toString)).mkString("[", ",", "]"),
      "counts" -> Json.obj(m.toSeq.filter(_._1.startsWith("spark.")).sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) } ++
        Seq("icelite.commits_per_wave" -> Json.num(m("icelite.commits_per_wave")),
          "icelite.files" -> Json.num(m("icelite.files"))) ++ tables ++ probe)) ++ traceReport
    Outcome(attempted, failed, errors, endToEnd, perLayer, report, spans)
  }
}
