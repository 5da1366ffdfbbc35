package graft

import graft.plans.CrawlJob
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("crawl-request intake: validation + canonicalization as a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, Boolean, String, String, Timestamp)]
    val df = input.toDF()
      .toDF("index", "url", "on_domain", "engine", "type", "ts")
    input.addData(
      ("idx", "HTTP://Site.COM:80/a?b=1&a=2#f", true, "eng", "elasticsearch",
        Timestamp.valueOf("2024-01-01 00:00:00")),
      ("idx", "http://ok.com/x", true, "", "app-search",
        Timestamp.valueOf("2024-01-01 00:00:01")), // missing engine → 400
      ("", "http://ok.com/y", false, "eng", "elasticsearch",
        Timestamp.valueOf("2024-01-01 00:00:02")), // missing index → 400
      ("idx", "http://ok.com/z", false, "eng", "bogus-type",
        Timestamp.valueOf("2024-01-01 00:00:03")), // bad type → 400
      ("idx", "not a url", false, "eng", "elasticsearch",
        Timestamp.valueOf("2024-01-01 00:00:04"))) // invalid URL → 400
    val q = StreamOps.validateRequests(df)
      .writeStream.format("memory").queryName("reqs")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT url, canonical_url, status FROM reqs ORDER BY url")
      .collect()
    val byUrl = rows.map(r => r.getString(0) -> (Option(r.getString(1)), r.getInt(2))).toMap
    assert(byUrl("HTTP://Site.COM:80/a?b=1&a=2#f") ==
      (Some("http://site.com/a?a=2&b=1"), 201))
    assert(byUrl("http://ok.com/x")._2 == 400)
    assert(byUrl("http://ok.com/y")._2 == 400)
    assert(byUrl("http://ok.com/z")._2 == 400)
    assert(byUrl("not a url") == (None, 400))
  }

  private def initOnly(seeds: Seq[String], root: String): Unit = {
    import spark.implicits._
    // maxWaves = 0: enqueue the seeds (fresh root only) and drain once
    CrawlJob.run(spark, spark.emptyDataset[graft.model.WebDoc].toDF(), Seq.empty,
      CrawlJob.Config(seeds, maxWaves = 0, numPartitions = 2), root)
  }

  test("streaming seed intake lands frontier rows identical to the batch seed path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the seed list, with a post-canonicalization duplicate (#2) and an
    // invalid URL (#3) — both consume a seq/index, exactly like the batch
    // path's seeds.zipWithIndex
    val seeds = Seq(
      "http://HOT.example.com:80/p/0#frag",
      "http://site1.example.org/p/0?b=2&a=1",
      "http://hot.example.com/p/0", // dup of #0 after canonicalization
      "not a url",
      "http://site2.example.org/p/9")

    // batch twin: CrawlJob's fresh start, init only
    val root1 = java.nio.file.Files.createTempDirectory("graft-intake-batch").toString
    initOnly(seeds, root1)

    // streaming twin: the same seeds as CrawlRequests over TWO micro-batches
    // into the inbox, then an init-only run without seeds drains them
    val root2 = java.nio.file.Files.createTempDirectory("graft-intake-stream").toString
    val t = CrawlJob.tables(root2, spark)
    val input = MemoryStream[(String, String, Boolean, String, String, Timestamp, Long)]
    val df = input.toDF().toDF("index", "url", "on_domain", "engine", "type", "ts", "seq")
    def req(i: Int) = ("idx", seeds(i), false, "eng", "elasticsearch",
      Timestamp.valueOf("2024-01-01 00:00:00"), i.toLong)
    val q = StreamOps.seedEntries(df)
      .writeStream
      .foreachBatch(StreamOps.enqueueSeedBatch(t.inbox) _)
      .start()
    input.addData(req(0), req(1))          // micro-batch 1
    q.processAllAvailable()
    input.addData(req(2), req(3), req(4))  // micro-batch 2 (dup + invalid)
    q.processAllAvailable()
    q.stop()
    // two separate intake commits landed (one per micro-batch)
    assert(t.inbox.currentSnapshot.get.dataDirs.size == 2)
    initOnly(Seq.empty, root2)

    def frontierRows(root: String) =
      CrawlJob.tables(root, spark).frontier.read()
        .select("url", "url_hash", "host", "depth", "parent_ord", "link_index")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3),
          r.getLong(4), r.getInt(5))).toSet
    def seenRows(root: String) =
      CrawlJob.tables(root, spark).seen.read().select("url_hash", "url")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def counters(root: String) =
      CrawlJob.tables(root, spark).frontier.currentSnapshot.get.counters

    assert(frontierRows(root2) == frontierRows(root1),
      s"stream=${frontierRows(root2)}\nbatch=${frontierRows(root1)}")
    assert(seenRows(root2) == seenRows(root1))
    assert(frontierRows(root1).map(_._6) == Set(0, 1, 4), "first-wins by seed position")
    // the fresh drain starts the wave counters: 3 seeds on 3 hosts
    assert(counters(root1) == Map("next_wave" -> 0L, "frontier_size" -> 3L,
      "host_hwm" -> 3L, "intake_drained" -> 0L))
    assert(counters(root2) - "intake_drained" == counters(root1) - "intake_drained")
  }

  test("inbox drain is idempotent under replay (full and partial)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-intake-idem").toString
    val t = CrawlJob.tables(root, spark)
    def entries(urls: (String, Int)*) = urls.toSeq.map { case (u, seq) =>
      (u, graft.functions.UrlOps.urlHash64(u), "h.com", 0, 0L, seq)
    }.toDF("url", "url_hash", "host", "depth", "parent_ord", "link_index")
    val enq = StreamOps.enqueueSeedBatch(t.inbox) _
    // a root started without seeds keeps an empty seen set; its restart
    // bootstraps an empty seen state and must still admit intake
    initOnly(Seq.empty, root)
    assert(t.seen.currentVersion < 0)
    enq(entries("http://h.com/a" -> 0, "http://h.com/b" -> 1), 0L)
    initOnly(Seq.empty, root)
    def frontierUrls = t.frontier.read().select("url").collect().map(_.getString(0)).toSeq
    def seenUrls = t.seen.read().select("url").collect().map(_.getString(0)).toSeq
    assert(frontierUrls.sorted == Seq("http://h.com/a", "http://h.com/b"))
    val v0 = t.frontier.currentVersion
    // FULL replay: the batch re-posted and the drain re-run — nothing moves
    enq(entries("http://h.com/a" -> 0, "http://h.com/b" -> 1), 0L)
    initOnly(Seq.empty, root)
    assert(t.frontier.currentVersion == v0 && frontierUrls.size == 2)
    // PARTIAL replay: batch 1's drain crashed after its SEEN append landed,
    // before its frontier append — the next drain must admit the seed to
    // the frontier exactly once, not drop it
    val b1 = entries("http://h.com/c" -> 2)
    enq(b1, 1L)
    val vC = t.inbox.currentVersion.toLong
    t.seen.append(b1.select(col("url_hash"), col("url"), lit(0).as("wave")),
      Map("intake_drain_v" -> vC))
    initOnly(Seq.empty, root)
    assert(frontierUrls.sorted == Seq("http://h.com/a", "http://h.com/b", "http://h.com/c"))
    assert(seenUrls.count(_ == "http://h.com/c") == 1, "partial replay duplicated seen row")
    assert(t.seen.snapshots.count(_.counters.get("intake_drain_v").contains(vC)) == 1)
  }

  test("seeds injected mid-crawl: the wave loop resumes over them, deterministically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = graft.synth.Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 4)
    val corpus = graft.synth.Corpus.generate(cfg)
    val rules = graft.synth.Corpus.robotsRules(cfg)
    val docs = spark.createDataset(corpus).toDF()
    def runOnce(tag: String): (Seq[(Long, Int, String)], Set[String]) = {
      val root = java.nio.file.Files.createTempDirectory(s"graft-midstream-$tag").toString
      val seedsA = Seq("http://site1.example.org/p/0")
      def jobCfg(w: Int) = graft.plans.CrawlJob.Config(seedsA, onDomain = false,
        hostBudget = 3, maxWaves = w, numPartitions = 2, saltBuckets = 2)
      CrawlJob.run(spark, docs, rules, jobCfg(2), root) // phase 1: 2 waves
      // mid-crawl intake of seed B on another host (one micro-batch)
      val t = CrawlJob.tables(root, spark)
      val input = MemoryStream[(String, String, Boolean, String, String, Timestamp, Long)]
      val df = input.toDF().toDF("index", "url", "on_domain", "engine", "type", "ts", "seq")
      val q = StreamOps.seedEntries(df).writeStream
        .foreachBatch(StreamOps.enqueueSeedBatch(t.inbox) _)
        .start()
      input.addData(("idx", "http://site3.example.org/p/0", false, "eng",
        "elasticsearch", Timestamp.valueOf("2024-01-01 00:00:00"), 0L))
      q.processAllAvailable(); q.stop()
      CrawlJob.run(spark, docs, rules, jobCfg(64), root) // phase 2: resume
      val visits = CrawlJob.visitOrder(spark, root, 2).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
      val seen = CrawlJob.seenSet(spark, root).collect().map(_.getString(1)).toSet
      (visits, seen)
    }
    val (v1, s1) = runOnce("a")
    assert(v1.exists(_._3 == "http://site3.example.org/p/0"),
      "streamed seed was never crawled")
    assert(s1.exists(_.startsWith("http://site3.example.org/p/")), "no expansion from streamed seed")
    // bit-exact determinism of the whole stream+resume sequence
    val (v2, s2) = runOnce("b")
    assert(v1 == v2 && s1 == s2, "stream-intake crawl is not deterministic")
  }

  test("CONCURRENT intake: a seed enqueued mid-crawl joins the next wave, " +
      "final state equals the alternating-batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = graft.synth.Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 4)
    val docs = spark.createDataset(graft.synth.Corpus.generate(cfg)).toDF()
    val rules = graft.synth.Corpus.robotsRules(cfg)
    val seedA = "http://site1.example.org/p/0"
    val seedB = "http://site3.example.org/p/0"

    def collectState(root: String) = {
      val visits = CrawlJob.visitOrder(spark, root, 2).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
      val seen = CrawlJob.seenSet(spark, root).collect().map(_.getString(1)).toSet
      (visits, seen)
    }

    // twin 1: ONE CrawlJob.run with a live streaming query enqueueing
    // seed B into the inbox after wave 1 commits — the loop's own drain
    // must pick it up at the wave-2 boundary, mid-run
    val rootC = java.nio.file.Files.createTempDirectory("graft-conc").toString
    val t = CrawlJob.tables(rootC, spark)
    val input = MemoryStream[(String, String, Boolean, String, String, Timestamp, Long)]
    val df = input.toDF().toDF("index", "url", "on_domain", "engine", "type", "ts", "seq")
    val q = StreamOps.seedEntries(df).writeStream
      .foreachBatch(StreamOps.enqueueSeedBatch(t.inbox) _)
      .start()
    var injectedAtWave = -1
    try {
      val jobCfg = CrawlJob.Config(Seq(seedA), hostBudget = 3, maxWaves = 64,
        numPartitions = 2, saltBuckets = 2,
        onWaveEnd = w => if (w == 1) {
          input.addData(("idx", seedB, false, "eng", "elasticsearch",
            Timestamp.valueOf("2024-01-01 00:00:00"), 0L))
          q.processAllAvailable() // deterministic: enqueued before wave 2 starts
          injectedAtWave = w
        })
      CrawlJob.run(spark, docs, rules, jobCfg, rootC)
    } finally q.stop()
    assert(injectedAtWave == 1)
    assert(t.inbox.currentVersion >= 0 && !t.inbox.isEmpty, "inbox never written")
    val (vC, sC) = collectState(rootC)
    // the injected seed was crawled, in a wave AFTER the injection point
    val seedBVisit = vC.find(_._3 == seedB)
    assert(seedBVisit.exists(_._2 >= 2), s"seed B visit: $seedBVisit")
    assert(sC.exists(_.startsWith("http://site3.example.org/p/")), "no expansion from seed B")

    // twin 2: the alternating-batch admission (run 2 waves, enqueue while
    // no crawl runs, resume: the resumed run drains before its first wave)
    // — the concurrent run must be state-identical
    val rootB = java.nio.file.Files.createTempDirectory("graft-conc-twin").toString
    def jobCfgB(w: Int) = CrawlJob.Config(Seq(seedA), hostBudget = 3, maxWaves = w,
      numPartitions = 2, saltBuckets = 2)
    CrawlJob.run(spark, docs, rules, jobCfgB(2), rootB)
    val tb = CrawlJob.tables(rootB, spark)
    StreamOps.enqueueSeedBatch(tb.inbox)(
      Seq((seedB, graft.functions.UrlOps.urlHash64(seedB),
        "site3.example.org", 0, 0L, 0))
        .toDF("url", "url_hash", "host", "depth", "parent_ord", "link_index"), 0L)
    CrawlJob.run(spark, docs, rules, jobCfgB(64), rootB)
    val (vB, sB) = collectState(rootB)
    assert(vC == vB, "concurrent-intake visits differ from the alternating-batch twin")
    assert(sC == sB, "concurrent-intake seen set differs from the alternating-batch twin")
  }

  test("crashed drain replays even after the inbox advances past the crash version; " +
      "intake reclaims drained inbox dirs") {
    import spark.implicits._
    val cfg = graft.synth.Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 4)
    val docs = spark.createDataset(graft.synth.Corpus.generate(cfg)).toDF()
    val rules = graft.synth.Corpus.robotsRules(cfg)
    val seedA = "http://site1.example.org/p/0"
    val seedB = "http://site3.example.org/p/0"
    val seedC = "http://site2.example.org/p/0"
    val root = java.nio.file.Files.createTempDirectory("graft-crashdrain").toString
    def entries(u: String, host: String, seq: Int) =
      Seq((u, graft.functions.UrlOps.urlHash64(u), host, 0, 0L, seq))
        .toDF("url", "url_hash", "host", "depth", "parent_ord", "link_index")
    def jobCfg(w: Int) = CrawlJob.Config(Seq(seedA), hostBudget = 3, maxWaves = w,
      numPartitions = 2, saltBuckets = 2)
    CrawlJob.run(spark, docs, rules, jobCfg(2), root)
    val t = CrawlJob.tables(root, spark)
    // intake enqueues seed B (inbox vB)...
    StreamOps.enqueueSeedBatch(t.inbox)(entries(seedB, "site3.example.org", 0), 0L)
    val vB = t.inbox.currentVersion
    // ...a drain crashes in its window: the SEEN append landed (tagged
    // with the drain version, no wave counter), the frontier append did
    // not — exactly drainStep's partial-commit state
    t.seen.append(
      entries(seedB, "site3.example.org", 0)
        .select(col("url_hash"), col("url"), lit(0).as("wave")),
      Map("intake_drain_v" -> vB.toLong))
    // ...and the always-on intake then advances the inbox PAST the crash
    // version (the case a curV-only replay match silently strands seed B
    // in the seen set forever)
    StreamOps.enqueueSeedBatch(t.inbox)(entries(seedC, "site2.example.org", 1), 1L)
    assert(t.inbox.currentVersion > vB)
    // resume: the first wave boundary must replay the crashed drain AND
    // drain the newer batch
    CrawlJob.run(spark, docs, rules, jobCfg(64), root)
    val visited = CrawlJob.visitOrder(spark, root, 2).select("url")
      .collect().map(_.getString(0))
    assert(visited.contains(seedB), "crashed-drain seed B was never crawled")
    assert(visited.contains(seedC), "post-crash intake seed C was never crawled")
    // exactly once: the replay re-derived the same admitted set instead of
    // duplicating or dropping it (the frontier itself drains to empty, so
    // the visit log and the seen table are the durable witnesses)
    assert(visited.count(_ == seedB) == 1)
    assert(t.seen.read().filter(col("url") === seedB).count() == 1L)
    val drained = t.frontier.currentSnapshot.get.counters("intake_drained")
    assert(drained >= t.inbox.snapshots.filter(_.dataDirs.nonEmpty).map(_.version).max)
    // intake-side reclaim: with those drains landed, the next enqueue
    // drops the drained batch dirs from the live inbox snapshot
    StreamOps.enqueueSeedBatch(t.inbox, Some(t.frontier))(
      entries("http://site0.example.org/p/1", "site0.example.org", 2), 2L)
    val live = t.inbox.currentSnapshot.get.dataDirs
    assert(live.nonEmpty && live.forall(d => t.inbox.dirVersion(d) > drained),
      s"drained dirs not reclaimed: $live (drained=$drained)")
  }

  test("enqueueSeedBatch is idempotent and drainInbox survives a marker-only inbox") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-enq-idem").toString
    val t = CrawlJob.tables(root, spark)
    def entries(urls: (String, Int)*) = urls.toSeq.map { case (u, seq) =>
      (u, graft.functions.UrlOps.urlHash64(u), "h.com", 0, 0L, seq)
    }.toDF("url", "url_hash", "host", "depth", "parent_ord", "link_index")
    val enq = StreamOps.enqueueSeedBatch(t.inbox) _
    // empty batch 0 → marker-only snapshot (no data dirs)
    enq(Seq.empty[(String, Long, String, Int, Long, Int)]
      .toDF("url", "url_hash", "host", "depth", "parent_ord", "link_index"), 0L)
    assert(t.inbox.currentVersion == 0 && t.inbox.isEmpty)
    enq(entries("http://h.com/a" -> 0), 1L)
    val v1 = t.inbox.currentVersion
    enq(entries("http://h.com/a" -> 0), 1L) // replay → no-op
    assert(t.inbox.currentVersion == v1)
    assert(t.inbox.read().count() == 1L)
  }

  test("watermarked event windows aggregate a replayed batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    input.addData(
      (Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 00:20:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 01:05:00"), "click", 4.0),
      (Timestamp.valueOf("2024-01-01 03:00:00"), "click", 8.0)) // advances watermark
    val q = StreamOps.eventWindows(df)
      .writeStream.format("memory").queryName("winagg")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql(
      "SELECT win_start, n_events, sum_value FROM winagg ORDER BY win_start").collect()
    // windows 00:00 and 01:00 are closed by the 03:00 watermark
    assert(rows.length >= 2)
    assert(rows(0).getLong(1) == 2L && rows(0).getDouble(2) == 3.0)
    assert(rows(1).getLong(1) == 1L && rows(1).getDouble(2) == 4.0)
  }

  test("streaming politeness state defers within crawl_delay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.HostEvent]
    input.addData(
      StreamOps.HostEvent("a.com", 0L),
      StreamOps.HostEvent("a.com", 5L),   // within delay → deferred
      StreamOps.HostEvent("a.com", 12L),  // past delay → admitted
      StreamOps.HostEvent("b.com", 3L))   // other host independent
    val q = StreamOps.politenessStream(spark, input.toDF(), crawlDelay = 10L)
      .writeStream.format("memory").queryName("polite")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT host, ts, admitted FROM polite ORDER BY host, ts")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.toSeq == Seq(
      ("a.com", 0L, true), ("a.com", 5L, false), ("a.com", 12L, true),
      ("b.com", 3L, true)))
  }
}
