package graft

import graft.sources.IceLite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Gates for the table-format layer the crawl state rides on: per-file
  * manifests (exact rows + url_hash min/max off parquet footers),
  * manifest-pruned point reads, and snapshot expiry keeping a long
  * crawl's storage bounded without breaking the resume marker chain. */
class IceLiteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("probe-url engine path: manifest pruning scans a file subset of url_seen") {
    import graft.synth.Corpus
    // state produced by the ENGINE (a real multi-wave crawl), not a
    // hand-laid table — the pruning must earn its keep on the layout the
    // wave loop actually writes (VERDICT r3 next-round #8)
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 12, linksPerPage = 5)
    val docs = Corpus.toDf(spark, cfg).persist()
    docs.count()
    val root = Files.createTempDirectory("icelite-probe").toString
    graft.plans.CrawlJob.run(spark, docs, Corpus.robotsRules(cfg),
      graft.plans.CrawlJob.Config(Seq(Corpus.pageUrl(cfg, 0, 0)), hostBudget = 3,
        maxWaves = 12, numPartitions = 4, saltBuckets = 2), root)
    docs.unpersist()
    val t = graft.plans.CrawlJob.tables(root, spark)
    val totalFiles = t.seen.read().inputFiles.length
    assert(totalFiles > 3, s"need a multi-file seen table, got $totalFiles")
    // probe a URL the engine actually saw — the row with the max hash is
    // deterministic and sits in exactly one file's [min,max] range
    val url = t.seen.read().orderBy(col("url_hash").desc).select("url")
      .head().getString(0)
    val hit = graft.plans.CrawlJob.probeUrl(spark, root, url)
    assert(hit.count() == 1L, s"probe missed crawled url $url")
    assert(hit.inputFiles.length < totalFiles,
      s"no pruning: scanned ${hit.inputFiles.length} of $totalFiles files")
    // a URL that was never crawled probes empty through the same path
    assert(graft.plans.CrawlJob.probeUrl(spark, root,
      "http://site1.example.org/p/99999").count() == 0L)
  }

  private def freshTable(tag: String): IceLite.Table =
    IceLite.table(Files.createTempDirectory(s"icelite-$tag").toString, spark)

  private def hashDf(from: Long, until: Long) =
    spark.range(from, until).select(xxhash64(col("id")).as("url_hash"), col("id"))

  test("per-file manifests carry exact row counts and url_hash min/max") {
    val t = freshTable("manifest")
    t.append(hashDf(0, 1000).repartition(4))
    val stats = t.currentStats
    assert(stats.nonEmpty)
    assert(stats.map(_._2.rows).sum == 1000L, s"manifest rows ${stats.map(_._2.rows).sum}")
    assert(stats.forall(_._2.hasHash))
    val truth = hashDf(0, 1000).agg(min("url_hash"), max("url_hash")).head()
    assert(stats.map(_._2.minHash).min == truth.getLong(0))
    assert(stats.map(_._2.maxHash).max == truth.getLong(1))
  }

  test("manifest-pruned point read scans a file subset and finds the row") {
    val t = freshTable("prune")
    // sorted-by-hash layout → tight per-file ranges → real pruning
    t.append(hashDf(0, 20000).repartitionByRange(8, col("url_hash"))
      .sortWithinPartitions("url_hash"))
    val target = hashDf(500, 501).head.getLong(0)
    val pruned = t.prunedByHash(target)
    val prunedFiles = pruned.inputFiles.length
    val allFiles = t.read().inputFiles.length
    assert(prunedFiles < allFiles,
      s"pruning read $prunedFiles of $allFiles files — no file skipped")
    assert(pruned.filter(col("url_hash") === target).count() == 1L)
  }

  test("prunedByHash returns an empty typed frame (not a throw) on a definitive miss") {
    val t = freshTable("prune-miss")
    t.append(hashDf(0, 200).repartitionByRange(4, col("url_hash"))
      .sortWithinPartitions("url_hash"))
    val maxH = t.read().agg(max("url_hash")).head().getLong(0)
    // a hash above every file's [min,max]: pruning eliminates ALL files —
    // must come back as an empty frame with the table's schema so the
    // probe-url CLI reports a miss instead of crashing
    val miss = t.prunedByHash(maxH + 1)
    assert(miss.count() == 0L)
    assert(miss.columns.contains("url_hash"))
  }

  test("readBetween is a version-pinned delta read; dropDirsWhere reclaims drained dirs") {
    val t = freshTable("delta")
    t.append(hashDf(0, 100))        // v0
    t.amendCounters(Map("m" -> 1L)) // v1: marker-only
    t.append(hashDf(100, 150), Map("m" -> 2L)) // v2
    assert(t.readBetween(-1, 0).get.count() == 100L)
    assert(t.readBetween(0, 1).isEmpty, "marker-only delta must be None")
    assert(t.readBetween(0, 2).get.count() == 50L)
    // the delta read lists ONLY v2's dir — O(new batches), not O(all-ever)
    assert(t.readBetween(0, 2).get.inputFiles.forall(_.contains("/data/s2-")),
      "delta read touched base dirs")
    assert(t.dirVersion("data/s2-abc") == 2)
    // inbox reclaim: drop v0's dir from the live snapshot (metadata-only);
    // pinned time travel still sees it because no file was deleted
    assert(t.dropDirsWhere(d => t.dirVersion(d) <= 0).nonEmpty)
    assert(t.read().count() == 50L)
    assert(t.readAt(2).count() == 150L)
    assert(t.currentSnapshot.get.counters.get("m").contains(2L), "counters carried")
    assert(t.dropDirsWhere(d => t.dirVersion(d) <= 0).isEmpty, "second drop is a no-op")
    // once every snapshot referencing the dropped dir expires, the files go
    t.append(hashDf(150, 160)) // v4 (drop committed v3)
    t.expire(keepLast = 2)     // retains v3, v4 — neither references s0
    val dataDirs = Files.list(Paths.get(t.root, "data")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(!dataDirs.exists(_.startsWith("s0-")), s"s0 dir survived expiry: $dataDirs")
    assert(t.read().count() == 60L)
  }

  test("expire bounds metadata and data dirs; current snapshot stays readable") {
    val t = freshTable("expire")
    (0 until 12).foreach(i => t.replace(hashDf(i * 10L, i * 10L + 10)))
    val root = Paths.get(t.root)
    def metaCount = Files.list(root.resolve("metadata")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".json"))
    def dataCount =
      if (!Files.exists(root.resolve("data"))) 0
      else Files.list(root.resolve("data")).iterator().asScala.size
    assert(metaCount == 12 && dataCount == 12)
    t.expire(keepLast = 3)
    assert(metaCount == 3, s"kept $metaCount snapshot jsons")
    assert(dataCount == 3, s"kept $dataCount data dirs")
    assert(t.read().count() == 10L) // current replace content intact
    // appends keep every referenced dir alive even past the horizon
    val a = freshTable("expire-append")
    (0 until 10).foreach(i => a.append(hashDf(i * 5L, i * 5L + 5)))
    a.expire(keepLast = 2)
    assert(a.read().count() == 50L, "append-mode data must survive expiry")
    // and the marker-chain ops the resume path uses still work
    a.append(hashDf(100, 105), Map("wave" -> 9L))
    a.trimWhile(s => s.counters.get("wave").exists(_ >= 9L))
    assert(a.read().count() == 50L)
  }

  test("long crawl with retention: file count stays bounded, resume stays exact") {
    import graft.synth.Corpus
    import graft.plans.CrawlJob
    val cfg0 = Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 5, seed = 99L)
    val corpus = Corpus.generate(cfg0)
    val rules = Corpus.robotsRules(cfg0)
    val seeds = Seq("http://hot.example.com/p/2")
    val o = graft.oracle.CrawlOracle.run(corpus, rules,
      graft.oracle.CrawlOracle.CrawlConfig(seeds, onDomain = false, hostBudget = 3))
    import spark.implicits._
    val df = spark.createDataset(corpus).toDF()
    val root = Files.createTempDirectory("graft-expire-crawl").toString
    def jobCfg(waves: Int) = CrawlJob.Config(seeds, onDomain = false, hostBudget = 3,
      maxWaves = waves, numPartitions = 4, saltBuckets = 4,
      snapshotKeep = 3)
    val m1 = CrawlJob.run(spark, df, rules, jobCfg(2), root)
    val m2 = CrawlJob.run(spark, df, rules, jobCfg(64), root) // resume past expiry
    // equivalence on the bits the oracle defines
    val vGot = CrawlJob.visitOrder(spark, root, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
    assert(vGot == o.visits.map(v => (v.rank, v.wave, v.url)))
    val sGot = CrawlJob.seenSet(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sGot == o.seen.map(s => (s.url_hash, s.url)).toSet)
    assert((m1 ++ m2) == o.metrics)
    // frontier metadata bounded at the horizon despite ~10+ waves
    val metaFiles = Files.list(Paths.get(root, "frontier", "metadata"))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".json"))
    assert(metaFiles <= 4, s"frontier snapshot log not bounded: $metaFiles")
  }

  test("one clocked delta wave commits to six tables; frontier_consumed stays unwritten") {
    import graft.synth.Corpus
    import graft.plans.CrawlJob
    val cfg0 = Corpus.Config(nHosts = 6, pagesPerHost = 8, linksPerPage = 6, seed = 13L)
    val corpus = Corpus.generate(cfg0)
    import spark.implicits._
    val df = spark.createDataset(corpus).toDF()
    val root = Files.createTempDirectory("graft-commit-set").toString
    def jobCfg(waves: Int) = CrawlJob.Config(
      Seq("http://hot.example.com/p/0", "http://site1.example.org/p/0"),
      hostBudget = 3, maxWaves = waves, numPartitions = 4, virtualClock = true)
    def versions: Map[String, Int] = CrawlJob.tables(root, spark).productIterator
      .map { case tb: IceLite.Table => Paths.get(tb.root).getFileName.toString -> tb.currentVersion }
      .toMap
    // an init-only run drains the seeds; the resumed run is one delta wave
    CrawlJob.run(spark, df, Corpus.robotsRules(cfg0), jobCfg(0), root)
    val before = versions
    val m = CrawlJob.run(spark, df, Corpus.robotsRules(cfg0), jobCfg(1), root)
    assert(m.map(_.wave) == Seq(0) && m.head.fetched > 0)
    val after = versions
    val moved = after.keySet.filter(k => after(k) != before(k))
    assert(moved == Set("visits", "crawl_docs", "host_clock", "url_seen", "metrics", "frontier"),
      s"tables committed by one delta wave: $moved")
    assert(!Files.exists(Paths.get(root, "frontier_consumed", "metadata")))
  }
}
