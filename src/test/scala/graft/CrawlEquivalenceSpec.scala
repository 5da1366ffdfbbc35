package graft

import graft.model._
import graft.oracle.CrawlOracle
import graft.plans.CrawlJob
import graft.synth.Corpus
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** North-star gate: the Spark engine must replay the golden oracle
  * bit-for-bit — visit order, URL-seen set, per-row span-sequence
  * (extracted docs), and all four counters — on the synthetic corpus,
  * including the robots-exclusion and duplicate-suppression scenarios. */
class CrawlEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private def corpusDf(corpus: Seq[WebDoc]): DataFrame = {
    import spark.implicits._
    spark.createDataset(corpus).toDF()
  }

  /** Per-bucket seen counts over all `buckets` buckets: the (bucket, n)
    * columns of the bloom bank an older engine saved in the filters table
    * at a clean exit (this engine writes no bank, so the tests below plant
    * the older engine's bank themselves). */
  private def olderBankCounts(t: CrawlJob.Tables, buckets: Int): Array[(Int, Long)] = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val n = t.seen.read().groupBy(pmod(hash(col("url_hash")), lit(buckets))).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Array.tabulate(buckets)(b => b -> n.getOrElse(b, 0L))
  }

  private def docKey(d: CrawlDoc): (String, String, String, String, String, String, Map[String, List[String]]) =
    (d.id, d.uri, d.title, d.description, d.keywords, d.ogimage,
      d.source.map { case (k, v) => k -> v.toList })

  private def runBoth(cfg0: Corpus.Config, seeds: Seq[String], onDomain: Boolean,
      hostBudget: Int = 4, maxWaves: Int = 64, tag: String = "eq"):
      (CrawlOracle.Result, String, Seq[WaveMetrics]) = {
    val corpus = Corpus.generate(cfg0)
    val rules = Corpus.robotsRules(cfg0)
    val oracleRes = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain, hostBudget, maxWaves))
    val root = tmpDir(tag)
    val metrics = CrawlJob.run(spark, corpusDf(corpus), rules,
      CrawlJob.Config(seeds, onDomain, hostBudget, maxWaves,
        numPartitions = 4, saltBuckets = 4), root)
    (oracleRes, root, metrics)
  }

  private def assertEquivalent(o: CrawlOracle.Result, root: String,
      engineMetrics: Seq[WaveMetrics]): Unit = {
    // 1. visit order: exact (rank, wave, url) sequence
    val vGot = CrawlJob.visitOrder(spark, root, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val vWant = o.visits.map(v => (v.rank, v.wave, v.url))
    assert(vGot.size == vWant.size, s"visit count ${vGot.size} != ${vWant.size}")
    vWant.zip(vGot).foreach { case (w, g) => assert(g == w, s"visit rank ${w._1}") }

    // 2. URL-seen set: exact set equality on (hash, url)
    val sGot = CrawlJob.seenSet(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val sWant = o.seen.map(s => (s.url_hash, s.url)).toSet
    assert((sGot diff sWant).isEmpty && (sWant diff sGot).isEmpty,
      s"seen set: extra=${(sGot diff sWant).take(5)} missing=${(sWant diff sGot).take(5)}")

    // 3. extracted docs: per-row span-sequence equality
    val dGot = CrawlJob.crawlDocs(spark, root).collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5),
        r.getAs[Map[String, scala.collection.Seq[String]]](6)
          .map { case (k, v) => k -> v.toList })
    }.toSet
    val dWant = o.docs.map(docKey).toSet
    assert(dGot == dWant,
      s"docs: extra=${(dGot diff dWant).take(2)} missing=${(dWant diff dGot).take(2)}")

    // 4. counters, per wave: as returned, and as the durable metrics table
    //    holds them (one row per committed wave, rolled-back waves trimmed)
    assert(engineMetrics == o.metrics,
      s"metrics:\n engine=${engineMetrics}\n oracle=${o.metrics}")
    assert(metricsRows(root) == o.metrics,
      s"metrics table:\n table=${metricsRows(root)}\n oracle=${o.metrics}")
  }

  private def metricsRows(root: String): Seq[WaveMetrics] = {
    import spark.implicits._
    CrawlJob.metricsTable(spark, root).as[WaveMetrics].collect().sortBy(_.wave).toSeq
  }

  /** The live frontier of a root this engine wrote: its rows minus every
    * visited URL (a full rewrite drops visited rows, so subtracting all
    * visits equals subtracting those since the last rewrite). */
  private def liveRows(t: CrawlJob.Tables): DataFrame =
    t.frontier.read().join(t.visits.read().select("url"), Seq("url"), "left_anti")

  test("tiny corpus, off-domain allowed: engine replays oracle exactly") {
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 4)
    val seeds = Seq("http://HOT.example.com:80/p/0#start")
    val (o, root, m) = runBoth(cfg, seeds, onDomain = false, tag = "tiny")
    assert(o.visits.nonEmpty && o.docs.nonEmpty)
    assertEquivalent(o, root, m)
  }

  test("on-domain crawl restricts to seed host (colly AllowedDomains)") {
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 4, seed = 7L)
    val seeds = Seq("http://site1.example.org/p/0")
    val (o, root, m) = runBoth(cfg, seeds, onDomain = true, tag = "ondom")
    val hosts = o.seen.map(s => graft.functions.UrlOps.hostOf(
      graft.functions.UrlOps.parse(s.url).authority)).toSet
    assert(hosts == Set("site1.example.org"))
    assertEquivalent(o, root, m)
  }

  test("multi-seed, tight budget: deferrals + robots + dedup all exercised") {
    val cfg = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val seeds = Seq(
      "http://hot.example.com/p/0",
      "http://site1.example.org/p/0?b=1&a=1",
      "http://hot.example.com/p/0#dup") // duplicate seed after canonicalization
    val (o, root, m) = runBoth(cfg, seeds, onDomain = false, hostBudget = 2, tag = "multi")
    assert(o.metrics.map(_.deferred).sum > 0, "expected deferrals under tight budget")
    assert(o.metrics.map(_.robots_blocked).sum > 0, "expected robots blocks")
    assert(o.metrics.map(_.dedup_hits).sum > 0, "expected dedup hits")
    assert(o.metrics.map(_.fetch_miss).sum > 0, "expected dangling-link misses")
    assertEquivalent(o, root, m)
  }

  test("bounded retry: engine replays oracle incl. retried counter") {
    val cfg = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/0", "http://site1.example.org/p/0")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 2, maxRetries = 2))
    assert(o.metrics.map(_.retried).sum > 0, "fixture must exercise retries")
    assert(o.visits.map(_.url).size > o.visits.map(_.url).distinct.size,
      "a retried URL must consume a second rank")
    val root = tmpDir("retry")
    val m = CrawlJob.run(spark, corpusDf(corpus), rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 2, maxWaves = 64,
        numPartitions = 4, saltBuckets = 4,
        maxRetries = 2), root)
    assertEquivalent(o, root, m)
  }

  test("retry survives kill/resume (failed-table round trip)") {
    val cfg = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/0")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 2, maxRetries = 1))
    val df = corpusDf(corpus)
    val root = tmpDir("retry-resume")
    def cfgJob(waves: Int) = CrawlJob.Config(seeds, onDomain = false, hostBudget = 2,
      maxWaves = waves, numPartitions = 4, saltBuckets = 4,
      maxRetries = 1)
    val m1 = CrawlJob.run(spark, df, rules, cfgJob(3), root)
    val m2 = CrawlJob.run(spark, df, rules, cfgJob(64), root)
    assertEquivalent(o, root, m1 ++ m2)
  }

  test("10^4 ruled hosts: the packed-join robots path replays the oracle") {
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 4, seed = 21L)
    val corpus = Corpus.generate(cfg)
    // pad the real rules with 10^4 hosts the crawl never touches: forces
    // the Joined (broadcast packed-rules) path while keeping the oracle
    // decision surface identical
    val rules = Corpus.robotsRules(cfg) ++ (0 until 10000).map { i =>
      graft.model.RobotsRule(s"pad$i.example.net", "/blocked", allow = false,
        crawl_delay = 1 + i % 5)
    }
    assert(rules.map(_.host).distinct.size > 64)
    val seeds = Seq("http://hot.example.com/p/0")
    val o = CrawlOracle.run(corpus, rules, CrawlOracle.CrawlConfig(seeds, hostBudget = 3))
    val root = tmpDir("bigrules")
    val m = CrawlJob.run(spark, corpusDf(corpus), rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 3, maxWaves = 64,
        numPartitions = 4, saltBuckets = 4), root)
    assertEquivalent(o, root, m)
  }

  /** Textify prefix rules into raw robots.txt bodies — the (host, body)
    * shape a real robots corpus has (what `--robots-txt` consumes). */
  private def robotsBodies(rules: Seq[RobotsRule]): Seq[(String, String)] =
    rules.groupBy(_.host).toSeq.map { case (h, rs) =>
      val lines = Seq("User-agent: *") ++
        rs.map(r => s"${if (r.allow) "Allow" else "Disallow"}: ${r.path_prefix}") ++
        Seq(s"Crawl-delay: ${rs.map(_.crawl_delay).max}")
      h -> lines.mkString("\n")
    }

  test("raw robots.txt bodies drive the wave loop (compiled path) — oracle-exact") {
    import spark.implicits._
    val cfg = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/0", "http://site1.example.org/p/0")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 2))
    assert(o.metrics.map(_.robots_blocked).sum > 0)
    val bodiesDf = robotsBodies(rules).toDF("host", "body")
    val root = tmpDir("txtbodies")
    val m = CrawlJob.runWithPolicy(spark, corpusDf(corpus),
      graft.operators.RobotsTxt.policyFromTxt(bodiesDf, "graftbot"),
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 2, maxWaves = 64,
        numPartitions = 4, saltBuckets = 4), root)
    assertEquivalent(o, root, m)
  }

  test("10^4 robots.txt bodies: the packed JoinedTxt path replays the oracle") {
    import spark.implicits._
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 4, seed = 21L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg) ++ (0 until 10000).map { i =>
      graft.model.RobotsRule(s"pad$i.example.net", "/blocked", allow = false,
        crawl_delay = 1 + i % 5)
    }
    val seeds = Seq("http://hot.example.com/p/0")
    val o = CrawlOracle.run(corpus, rules, CrawlOracle.CrawlConfig(seeds, hostBudget = 3))
    val bodiesDf = robotsBodies(rules).toDF("host", "body").repartition(8)
    val policy = graft.operators.RobotsTxt.policyFromTxt(bodiesDf, "graftbot")
    assert(policy.isInstanceOf[graft.operators.RobotsTxt.JoinedTxt],
      "10^4 hosts must take the broadcast packed-join path")
    val root = tmpDir("txtbig")
    val m = CrawlJob.runWithPolicy(spark, corpusDf(corpus), policy,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 3, maxWaves = 64,
        numPartitions = 4, saltBuckets = 4), root)
    assertEquivalent(o, root, m)
  }

  test("virtual-clock politeness: ts_next carryover replays the oracle exactly") {
    val cfg = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg) // hot host crawl_delay=2, others 1
    val seeds = Seq("http://hot.example.com/p/0", "http://site1.example.org/p/0")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 3,
        virtualClock = true))
    // the carryover must actually bite: some wave's budget differs from the
    // constant-budget model (hot host: T=3, d=2 → budgets 2,1,2,1,… vs
    // constant max(1, 3/2) = 1 every wave)
    val oPlain = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 3))
    assert(o.visits.map(_.url) != oPlain.visits.map(_.url),
      "fixture does not distinguish the clocked schedule from the constant budget")
    val root = tmpDir("vclock")
    val m = CrawlJob.run(spark, corpusDf(corpus), rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 3, maxWaves = 64,
        numPartitions = 4, saltBuckets = 4,
        virtualClock = true), root)
    assertEquivalent(o, root, m)
  }

  test("virtual clock survives kill/resume (host_clock table round trip)") {
    val cfg = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/0")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 3,
        virtualClock = true))
    val df = corpusDf(corpus)
    val root = tmpDir("vclock-resume")
    def cfgJob(waves: Int) = CrawlJob.Config(seeds, onDomain = false, hostBudget = 3,
      maxWaves = waves, numPartitions = 4, saltBuckets = 4,
      virtualClock = true)
    val m1 = CrawlJob.run(spark, df, rules, cfgJob(2), root)
    val m2 = CrawlJob.run(spark, df, rules, cfgJob(64), root)
    assertEquivalent(o, root, m1 ++ m2)
  }

  test("graceful stop finishes the wave, commits, and resumes bit-exact") {
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 5, seed = 99L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/2")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 3))
    val df = corpusDf(corpus)
    val root = tmpDir("gstop")
    // stop flag goes true while wave 1 is in flight (the loop polls
    // between waves): 2 waves complete, both committed
    var polls = 0
    val m1 = CrawlJob.run(spark, df, rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 3, maxWaves = 64,
        numPartitions = 4, saltBuckets = 4,
        stopRequested = () => { polls += 1; polls > 2 }), root)
    assert(m1.size == 2, s"graceful stop should land after wave 2, got ${m1.size}")
    val m2 = CrawlJob.run(spark, df, rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 3, maxWaves = 64,
        numPartitions = 4, saltBuckets = 4), root)
    assertEquivalent(o, root, m1 ++ m2)
  }

  test("crash with seen committed but docs not: resume trims both, stays exact") {
    import spark.implicits._
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 5, seed = 99L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/2")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 3))
    val df = corpusDf(corpus)
    val root = tmpDir("seenfirst")
    val m1 = CrawlJob.run(spark, df, rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 3, maxWaves = 2,
        numPartitions = 4, saltBuckets = 4), root)
    // simulate the widest crash interleaving the concurrent doc sinks
    // allow: wave 2's SEEN (and visits) landed, docs/frontier did not
    val t = CrawlJob.tables(root, spark)
    t.seen.append(
      Seq(graft.model.SeenUrl(123456789L, "http://phantom.example.com/x", 2)).toDF(),
      Map("wave" -> 2L))
    t.visits.append(
      Seq((999999L, 2, "http://phantom.example.com/x", 9)).toDF("ord", "wave", "url", "depth"),
      Map("wave" -> 2L))
    val m2 = CrawlJob.run(spark, df, rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 3, maxWaves = 64,
        numPartitions = 4, saltBuckets = 4), root)
    assertEquivalent(o, root, m1 ++ m2)
  }

  test("crash with a visits row committed but no frontier marker: resume trims") {
    import spark.implicits._
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 5, seed = 99L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/2")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 3))
    val df = corpusDf(corpus)
    val root = tmpDir("visitscrash")
    val m1 = CrawlJob.run(spark, df, rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 3, maxWaves = 2,
        numPartitions = 4, saltBuckets = 4), root)
    // simulate the delta-commit crash window: wave 2's VISITS append
    // landed (the concurrent sink), the frontier commit marker did not.
    // The phantom visit carries a LIVE frontier row's URL — the visits log
    // is the consumed set, so if the resume trim failed to roll it back,
    // that row would be silently hidden from the live frontier and the
    // crawl would diverge.
    val t = CrawlJob.tables(root, spark)
    val victim = liveRows(t).select("url", "depth").head()
    t.visits.append(
      Seq((999999L, 2, victim.getString(0), victim.getInt(1))).toDF("ord", "wave", "url", "depth"),
      Map("wave" -> 2L))
    val m2 = CrawlJob.run(spark, df, rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 3, maxWaves = 64,
        numPartitions = 4, saltBuckets = 4), root)
    assertEquivalent(o, root, m1 ++ m2)
  }

  test("a phantom metrics row from an uncommitted wave is trimmed on resume") {
    import spark.implicits._
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 5, seed = 99L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/2")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 3))
    val df = corpusDf(corpus)
    val root = tmpDir("metricscrash")
    def cfgJob(waves: Int) = CrawlJob.Config(seeds, onDomain = false, hostBudget = 3,
      maxWaves = waves, numPartitions = 4, saltBuckets = 4)
    val m1 = CrawlJob.run(spark, df, rules, cfgJob(2), root)
    assert(metricsRows(root) == o.metrics.take(2))
    // the metrics sink runs concurrently with the frontier commit: wave 2's
    // row landed, its frontier marker did not
    val t = CrawlJob.tables(root, spark)
    t.metrics.append(Seq(WaveMetrics(2, 99L, 99L, 99L, 99L, 99L)).toDF().coalesce(1),
      Map("wave" -> 2L))
    val m2 = CrawlJob.run(spark, df, rules, cfgJob(64), root)
    assertEquivalent(o, root, m1 ++ m2)
  }

  test("crash with a clock row committed but frontier marker not: resume trims, stays exact") {
    import spark.implicits._
    val cfg = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/0", "http://site1.example.org/p/0")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 3,
        virtualClock = true))
    val df = corpusDf(corpus)
    val root = tmpDir("clockcrash")
    def cfgJob(waves: Int) = CrawlJob.Config(seeds, onDomain = false, hostBudget = 3,
      maxWaves = waves, numPartitions = 4, saltBuckets = 4,
      virtualClock = true)
    val m1 = CrawlJob.run(spark, df, rules, cfgJob(2), root)
    // simulate the crash window of the concurrent clock sink: wave 2's
    // host_clock delta landed, the frontier commit marker did not. The
    // phantom row pushes a host that still has live frontier rows far into
    // the future — if the resume trim failed to roll it back, that host's
    // budget would drop to zero and the crawl would diverge.
    val t = CrawlJob.tables(root, spark)
    val victim = liveRows(t).select("host").head().getString(0)
    t.clock.append(Seq((victim, 1000000L, 2)).toDF("host", "next_ts", "w"),
      Map("wave" -> 2L))
    val m2 = CrawlJob.run(spark, df, rules, cfgJob(64), root)
    assertEquivalent(o, root, m1 ++ m2)
  }

  /** A fresh start that crashed before its first drain committed: the
    * seeds are in the inbox as batch -1, and `seenLanded` adds the drain's
    * seen append (tagged with the drained inbox version) without the
    * frontier marker. The resumed run must replay the oracle exactly. */
  private def freshStartCrash(tag: String, seenLanded: Boolean): Unit = {
    import spark.implicits._
    val cfg = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq(
      "http://hot.example.com/p/0",
      "http://site1.example.org/p/0?b=1&a=1",
      "not a url",
      "http://hot.example.com/p/0#dup")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 2))
    val root = tmpDir(tag)
    val t = CrawlJob.tables(root, spark)
    val entries = CrawlJob.seedEntries(seeds)
    graft.streaming.StreamOps.enqueueSeedBatch(t.inbox)(entries.toDF(), -1L)
    if (seenLanded)
      t.seen.append(
        entries.distinctBy(_.url_hash).map(e => SeenUrl(e.url_hash, e.url, 0)).toDF(),
        Map("intake_drain_v" -> t.inbox.currentVersion.toLong))
    assert(t.frontier.currentSnapshot.isEmpty)
    val m = CrawlJob.run(spark, corpusDf(corpus), rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 2, maxWaves = 64,
        numPartitions = 4, saltBuckets = 4), root)
    assertEquivalent(o, root, m)
  }

  test("crash after the fresh-start enqueue, before any drain: resume stays exact") {
    freshStartCrash("fresh-inbox", seenLanded = false)
  }

  test("crash with the fresh drain's seen append landed but no frontier: resume stays exact") {
    freshStartCrash("fresh-seen", seenLanded = true)
  }

  test("kill after wave k, resume: final state identical to uninterrupted run") {
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 5, seed = 99L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/2")
    val oracleRes = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 3))
    val df = corpusDf(corpus)
    val root = tmpDir("resume")
    // phase 1: stop after 2 waves (simulated kill between wave commits)
    val m1 = CrawlJob.run(spark, df, rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 3, maxWaves = 2,
        numPartitions = 4, saltBuckets = 4), root)
    assert(m1.size == 2)
    // phase 2: resume from IceLite snapshots to completion
    val m2 = CrawlJob.run(spark, df, rules,
      CrawlJob.Config(seeds, onDomain = false, hostBudget = 3, maxWaves = 64,
        numPartitions = 4, saltBuckets = 4), root)
    assertEquivalent(oracleRes, root, m1 ++ m2)
  }

  test("older-format filter bank is never probed: resume rebuilds, stays exact") {
    import spark.implicits._
    val cfg = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/0", "http://site1.example.org/p/0")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 2))
    val df = corpusDf(corpus)
    val root = tmpDir("bankgate")
    def cfgJob(waves: Int) = CrawlJob.Config(seeds, onDomain = false, hostBudget = 2,
      maxWaves = waves, numPartitions = 4, saltBuckets = 4)
    val m1 = CrawlJob.run(spark, df, rules, cfgJob(3), root)
    assert(m1.size == 3)
    // a format-2 bank from a cuckoo-mode run: every tag but the format
    // matches, and each image has the cuckoo layout (bucket count, dropped
    // count, 16-bit fingerprint slots) — bytes that are not a bloom image
    // (per-bucket counts kept, so the resumed state is non-empty and the
    // first wave would probe these images if the gate let them through)
    val t = CrawlJob.tables(root, spark)
    val counts = olderBankCounts(t, cfgJob(64).seenBuckets)
    assert(counts.length == cfgJob(64).seenBuckets && counts.map(_._2).sum > 0L)
    val cuckooImage = {
      val buf = java.nio.ByteBuffer.allocate(4 + 8 + 4 * 512 * 2)
      buf.putInt(512).putLong(0L)
      buf.array()
    }
    t.filters.replace(counts.toSeq.map { case (i, n) => (i, cuckooImage, n) }
        .toDF("bucket", "image", "n"),
      Map("seen_version" -> t.seen.currentVersion.toLong, "bank_format" -> 2L,
        "buckets" -> counts.length.toLong, "cuckoo" -> 1L))
    val m2 = CrawlJob.run(spark, df, rules, cfgJob(64), root)
    assertEquivalent(o, root, m1 ++ m2)
  }

  test("unparsable bank images are never probed: resume rebuilds, stays exact") {
    import spark.implicits._
    val cfg = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/0", "http://site1.example.org/p/0")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 2))
    val df = corpusDf(corpus)
    val root = tmpDir("bankimages")
    def cfgJob(waves: Int) = CrawlJob.Config(seeds, onDomain = false, hostBudget = 2,
      maxWaves = waves, numPartitions = 4, saltBuckets = 4)
    val m1 = CrawlJob.run(spark, df, rules, cfgJob(3), root)
    assert(m1.size == 3)
    // every tag matches the current format (seen_version, bank_format 3,
    // buckets), but no image parses as bloom: the resume must rebuild
    // from the seen table, never probe them
    val t = CrawlJob.tables(root, spark)
    val counts = olderBankCounts(t, cfgJob(64).seenBuckets)
    assert(counts.length == cfgJob(64).seenBuckets && counts.map(_._2).sum > 0L)
    val badImage = Array.fill[Byte](64)(9)
    t.filters.replace(counts.toSeq.map { case (i, n) => (i, badImage, n) }
        .toDF("bucket", "image", "n"),
      Map("seen_version" -> t.seen.currentVersion.toLong, "bank_format" -> 3L,
        "buckets" -> counts.length.toLong))
    val m2 = CrawlJob.run(spark, df, rules, cfgJob(64), root)
    assertEquivalent(o, root, m1 ++ m2)
  }

  test("a parent-engine root with live consumed markers resumes exactly") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val cfg = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val corpus = Corpus.generate(cfg)
    val rules = Corpus.robotsRules(cfg)
    val seeds = Seq("http://hot.example.com/p/0", "http://site1.example.org/p/0")
    val o = CrawlOracle.run(corpus, rules,
      CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 2))
    val df = corpusDf(corpus)
    val root = tmpDir("legacymarkers")
    def cfgJob(waves: Int, onWaveEnd: Int => Unit = _ => ()) = CrawlJob.Config(seeds,
      onDomain = false, hostBudget = 2, maxWaves = waves, numPartitions = 4,
      saltBuckets = 4, onWaveEnd = onWaveEnd)
    val m1 = CrawlJob.run(spark, df, rules, cfgJob(2), root)
    // turn the root into one the parent engine left: each delta wave's
    // fetched hashes as consumed markers, and a frontier without the
    // visits_v counter (the stale delta rows stay in place)
    val t = CrawlJob.tables(root, spark)
    val visits = t.visits.read()
    for (w <- 0 until 2)
      t.consumed.append(visits.filter(col("wave") === w)
        .select(xxhash64(col("url")).as("url_hash")), Map("wave" -> w.toLong))
    val counters = t.frontier.currentSnapshot.get.counters
    assert(counters.contains("visits_v"))
    t.frontier.replace(t.frontier.read(), counters - "visits_v")
    assert(t.frontier.read().count() > liveRows(t).count(),
      "fixture has no stale frontier rows for the markers to hide")
    // the first resumed wave subtracts the markers one last time and
    // takes the full-rewrite commit, which sets the counter
    var firstCommit: Option[(String, Map[String, Long])] = None
    val m2 = CrawlJob.run(spark, df, rules, cfgJob(64, w =>
      if (w == 2) firstCommit = t.frontier.currentSnapshot.map(s => s.mode -> s.counters)),
      root)
    assertEquivalent(o, root, m1 ++ m2)
    assert(firstCommit.exists { case (mode, c) => mode == "replace" && c.contains("visits_v") },
      s"first resumed commit: $firstCommit")
  }
}
