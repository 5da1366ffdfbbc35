package graft

import graft.operators.ExportOps
import graft.plans.CrawlJob
import graft.sources.AppConfig
import graft.synth.Corpus
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Checklist completeness: config source (S7), JSON export boundary (A5),
  * and the two-sink envelope shapes (S4/S5). */
class CompletenessSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("S7: config parses the reference's key structure") {
    val yml =
      """elasticsearch:
        |  url: "http://localhost:9200"
        |  username: elastic
        |  password: changeme
        |appsearch:
        |  url: "http://localhost:3002"
        |  token: private-abc
        |server:
        |  port: 8081
        |  readTimeout: 20
        |  writeTimeout: 30
        |""".stripMargin
    val cfg = AppConfig.parse(yml, "test")
    assert(cfg.elasticsearch == AppConfig.Elasticsearch(
      "http://localhost:9200", "elastic", "changeme"))
    assert(cfg.appsearch == AppConfig.Appsearch("http://localhost:3002", "private-abc"))
    assert(cfg.server == AppConfig.Server(8081, 20, 30))
  }

  test("A5/S4: elastic envelope JSON round-trips and keeps the RenderedPage shape") {
    import spark.implicits._
    val docs = Seq(
      ("aaa", "http://x.com/", "T", "D", "K", "http://x.com/og.jpg",
        Map("h1" -> Seq("a", "b"), "p" -> Seq("c")))
    ).toDF("id", "uri", "title", "description", "keywords", "ogimage", "source")
    val env = ExportOps.elasticEnvelopes(docs, "idx")
    val row = env.head
    assert(row.getString(0) == "idx" && row.getString(1) == "aaa")
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("uri", StringType),
      StructField("meta", StructType(Seq(
        StructField("ogimage", StringType), StructField("title", StringType),
        StructField("description", StringType), StructField("keywords", StringType)))),
      StructField("source", MapType(StringType, ArrayType(StringType)))))
    val back = env.select(from_json(col("body"), schema).as("d")).select("d.*").head
    assert(back.getString(1) == "http://x.com/")
    assert(back.getStruct(2).getString(1) == "T")
    assert(back.getAs[Map[String, scala.collection.Seq[String]]](3)("h1").toList == List("a", "b"))
  }

  test("A5/S5: appsearch envelope carries the flattened field set") {
    import spark.implicits._
    val flat = Seq(
      ("aaa", "D", "http://x.com/", Map("p" -> Seq("c")), "", "T", "K")
    ).toDF("id", "description", "uri", "source", "ogimage", "title", "keywords")
    val env = ExportOps.appsearchEnvelopes(flat)
    val body = env.head.getString(1)
    assert(body.contains("\"description\":\"D\"") && body.contains("\"uri\":\"http://x.com/\""))
  }

  test("A5/S5: a crawl's docs export as one App Search envelope per fetched hit") {
    val cfg = Corpus.Config(nHosts = 4, pagesPerHost = 6, linksPerPage = 4, seed = 7L)
    val corpus = Corpus.generate(cfg)
    val root = java.nio.file.Files.createTempDirectory("graft-appsearch").toString
    val metrics = CrawlJob.run(spark, spark.createDataFrame(corpus),
      Corpus.robotsRules(cfg),
      CrawlJob.Config(Seq("http://hot.example.com/p/0"), maxWaves = 3,
        numPartitions = 4, saltBuckets = 4), root)
    val docs = CrawlJob.crawlDocs(spark, root)
    val env = ExportOps.appsearchEnvelopes(docs)
    val fetched = metrics.map(_.fetched).sum
    assert(fetched > 0 && env.count() == fetched)
    // the body carries exactly the seven App Search fields, in
    // AppsearchDocument order, with the crawl_docs values
    val fields = Seq("id", "description", "uri", "source", "ogimage", "title", "keywords")
    val keys = env.select(json_object_keys(col("body"))).collect()
      .map(_.getSeq[String](0)).distinct.toSeq
    assert(keys == Seq(fields))
    val flat = StructType(fields.map(f => StructField(f,
      if (f == "source") MapType(StringType, ArrayType(StringType)) else StringType)))
    val back = env.select(col("document_id"), from_json(col("body"), flat).as("d"))
      .select(col("document_id") +: fields.map(f => col(s"d.$f")): _*)
    val want = docs.select(col("id").as("document_id") +: fields.map(col): _*)
    assert(back.collect().toSet == want.collect().toSet)
  }
}
