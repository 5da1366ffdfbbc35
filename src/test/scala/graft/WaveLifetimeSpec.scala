package graft

import graft.model.RobotsRule
import graft.operators.{FrontierKernel, Politeness, Robots}
import graft.plans.{CrawlJob, SeenState}
import graft.synth.Corpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** A wave frees what it cached on every exit: a failed wave must not
  * leave its persisted frames behind in a session that outlives the
  * crawl, and every seen piece's RDD has one owner and one free point. */
class WaveLifetimeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a failed wave leaves no persisted RDD behind") {
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 12, linksPerPage = 5)
    val boom = udf((id: String) => {
      if (id != null) throw new IllegalStateException("corpus read failed")
      id
    })
    val docs = Corpus.toDf(spark, cfg).withColumn("doc_id", boom(col("doc_id")))
    val jobCfg = CrawlJob.Config(Seq(Corpus.pageUrl(cfg, 0, 0)), hostBudget = 3,
      maxWaves = 4, numPartitions = 4, saltBuckets = 2, virtualClock = true)
    val root = Files.createTempDirectory("graft-wave-fail").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e = intercept[Exception] {
      CrawlJob.run(spark, docs, Corpus.robotsRules(cfg), jobCfg, root)
    }
    // the failure is the wave's fetch, not anything before it
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.getMessage.contains("corpus read failed")), e.toString)
    val after = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert(after.subsetOf(before), s"failed wave left persisted RDDs ${after -- before}")
  }

  test("seen pieces: one persisted RDD per live piece, none after close or a crawl") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def hashes(a: Long, b: Long) = spark.range(a, b).select(xxhash64(col("id")).as("url_hash"))
    val before = persisted
    val seen = new SeenState(spark, buckets = 4, compactAt = 3)
    try {
      seen.bootstrap(hashes(0, 1000))
      (1 to 4).foreach(i => seen.addWave(hashes(1000L * i, 1000L * i + 300)))
      assert(seen.compactions >= 1)
      // a compaction frees the merged pieces' RDDs as it builds their union
      val live = persisted -- before
      assert(live.size == seen.pieceCount, s"RDDs $live for ${seen.pieceCount} pieces")
    } finally seen.close()
    assert(persisted == before, s"close left ${persisted -- before}")

    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 12, linksPerPage = 5)
    val root = Files.createTempDirectory("graft-seen-rdds").toString
    // padded past the compile cutover: the crawl packs (and must free) a
    // rules table of its own
    val rules = Corpus.robotsRules(cfg) ++ (0 until 100).map(i =>
      RobotsRule(s"pad$i.example.net", "/blocked", allow = false, crawl_delay = 1))
    assert(rules.map(_.host).distinct.size > Robots.MaxCompileHosts)
    val beforeRun = persisted
    CrawlJob.run(spark, Corpus.toDf(spark, cfg), rules,
      CrawlJob.Config(Seq(Corpus.pageUrl(cfg, 0, 0)), hostBudget = 3, maxWaves = 4,
        numPartitions = 4, saltBuckets = 2), root)
    assert(persisted == beforeRun, s"a finished crawl left persisted RDDs ${persisted -- beforeRun}")
  }

  test("visitOrder caches nothing and ranks visits densely in id order") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 12, linksPerPage = 5)
    val root = Files.createTempDirectory("graft-visit-order").toString
    CrawlJob.run(spark, Corpus.toDf(spark, cfg), Corpus.robotsRules(cfg),
      CrawlJob.Config(Seq(Corpus.pageUrl(cfg, 0, 0)), hostBudget = 3, maxWaves = 4,
        numPartitions = 4), root)
    val before = persisted
    val ranked = CrawlJob.visitOrder(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(2))).sortBy(_._1).toSeq
    assert(persisted == before, s"visitOrder left persisted RDDs ${persisted -- before}")
    val byOrd = CrawlJob.tables(root, spark).visits.read().orderBy("ord")
      .collect().map(_.getAs[String]("url")).toSeq
    assert(byOrd.size > 4)
    assert(ranked == byOrd.zipWithIndex.map { case (u, i) => (i + 1L, u) })
  }

  test("measured politeness frees its contended-host set with the kernel pass") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // 300 rows: one hot host over its budget and 50 hosts under it
    val frontier = spark.range(0, 300).select(
      concat(lit("h"), when(col("id") < 100, lit(0L)).otherwise(col("id") % 50 + 1),
        lit(".example.org")).as("host"),
      xxhash64(col("id")).as("url_hash"),
      concat(lit("http://h/p/"), col("id")).as("url"),
      lit(0).as("depth"), col("id").as("parent_ord"), lit(0).as("link_index"))
    val seen = new SeenState(spark, buckets = 4, compactAt = 8)
    val policy = Robots.policy(Seq.empty, spark)
    try {
      seen.bootstrap(frontier.select("url_hash").limit(40))
      val before = persisted
      // a frontier hint at the probe threshold forces the measured path
      val r = FrontierKernel.scheduleDedup(spark, frontier, Politeness.SkipContendedProbeAt,
        seen, policy, hostBudget = 10, saltBuckets = 2, numPartitions = 4)
      assert(r.scheduled == 10L + 200L, r.toString)
      assert(persisted == before, s"the kernel pass left persisted RDDs ${persisted -- before}")
    } finally { seen.close(); policy.release() }
  }
}
