package graft

import graft.plans.CrawlJob
import graft.synth.Corpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** A wave frees what it cached on every exit: a failed wave must not
  * leave its persisted frames behind in a session that outlives the
  * crawl. */
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
}
