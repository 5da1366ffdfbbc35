package graft.operators

import graft.functions.UrlExpressions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crawl-operator queries over driver-provided tables, each with a DuckDB
  * oracle twin: URLs are derived deterministically from table columns, so
  * an independent SQL engine can compute the expected output of the custom
  * Catalyst expressions and of the frontier algebra (SURVEY §2.2-2.4).
  */
object CrawlQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** c1: north-rule canonicalization — mixed-case host, default port,
    * fragment, unsorted query params (O6). */
  def c1Canonicalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("raw", concat(
        lit("HTTP://WWW."), upper($"source"), lit(".COM:80/"), $"lang",
        lit("/page/"), pmod($"doc_id", lit(50)),
        lit("?b="), pmod($"doc_id", lit(3)),
        lit("&a="), pmod($"doc_id", lit(2)),
        lit("#sec"), $"doc_id"))
      .select($"doc_id", canonicalize_url($"raw").as("canonical_url"))
      .orderBy($"doc_id")
  }

  val c1Sql: String =
    """SELECT doc_id,
      |  'http://www.' || lower(source) || '.com/' || lang || '/page/' ||
      |  (doc_id % 50) || '?a=' || (doc_id % 2) || '&b=' || (doc_id % 3)
      |  AS canonical_url
      |FROM documents ORDER BY doc_id""".stripMargin

  /** c2: doc identity — md5 of the canonical URL (A4, crawler.go:228).
    * (The 64-bit url_hash twin has no DuckDB equivalent; its parity with
    * the Spark builtin is covered by UrlOpsSpec.) */
  def c2DocId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    c1Canonicalize(s, dir)
      .select($"doc_id", md5($"canonical_url").as("id"))
      .orderBy($"doc_id")
  }

  val c2Sql: String =
    """SELECT doc_id,
      |  md5('http://www.' || lower(source) || '.com/' || lang || '/page/' ||
      |      (doc_id % 50) || '?a=' || (doc_id % 2) || '&b=' || (doc_id % 3)) AS id
      |FROM documents ORDER BY doc_id""".stripMargin

  /** c3: media-extension filter, substring semantics (O7). */
  def c3MediaFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exts = Seq(".png", ".jpeg", ".jpg", ".ogg", ".woff", ".pdf", ".gif", ".tiff", ".svg", ".html", ".htm")
    docs(s, dir)
      .withColumn("url", concat(
        lit("http://files."), $"source", lit(".com/f/"), $"doc_id",
        element_at(typedLit(exts), (pmod($"doc_id", lit(exts.size)) + 1).cast("int"))))
      .filter(!is_media_url($"url"))
      .select($"doc_id", $"url")
      .orderBy($"doc_id")
  }

  val c3Sql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    'http://files.' || source || '.com/f/' || doc_id ||
      |    (['.png','.jpeg','.jpg','.ogg','.woff','.pdf','.gif','.tiff','.svg','.html','.htm'])[(doc_id % 11) + 1]
      |    AS url
      |  FROM documents)
      |SELECT doc_id, url FROM u
      |WHERE NOT (url LIKE '%.png%' OR url LIKE '%.jpeg%' OR url LIKE '%.jpg%'
      |  OR url LIKE '%.ogg%' OR url LIKE '%.woff%' OR url LIKE '%.pdf%'
      |  OR url LIKE '%.gif%' OR url LIKE '%.tiff%' OR url LIKE '%.svg%')
      |ORDER BY doc_id""".stripMargin

  /** c4: RFC 3986 link resolution against a base (O5, crawler.go:198). */
  def c4Resolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hrefs = Seq("../x/1", "./y/2", "/z/3", "w/4",
      "//CDN.example.com/5", "HTTPS://Other.COM:443/6?b=2&a=1#f")
    docs(s, dir)
      .withColumn("base", concat(lit("http://www."), $"source", lit(".com/a/b/c")))
      .withColumn("href", element_at(typedLit(hrefs), (pmod($"doc_id", lit(hrefs.size)) + 1).cast("int")))
      .select($"doc_id", resolve_url($"base", $"href").as("resolved"))
      .orderBy($"doc_id")
  }

  val c4Sql: String =
    """SELECT doc_id,
      |  CASE doc_id % 6
      |    WHEN 0 THEN 'http://www.' || source || '.com/a/x/1'
      |    WHEN 1 THEN 'http://www.' || source || '.com/a/b/y/2'
      |    WHEN 2 THEN 'http://www.' || source || '.com/z/3'
      |    WHEN 3 THEN 'http://www.' || source || '.com/a/b/w/4'
      |    WHEN 4 THEN 'http://cdn.example.com/5'
      |    WHEN 5 THEN 'https://other.com/6?a=1&b=2'
      |  END AS resolved
      |FROM documents ORDER BY doc_id""".stripMargin

  /** c5: frontier insert-if-new — within-wave first-wins dedup keyed by
    * canonical URL, winner = min priority (D2). */
  def c5DedupFirstWins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("url", concat(lit("http://www."), $"source", lit(".com/p/"),
        pmod($"doc_id", lit(97))))
      .groupBy($"url")
      .agg(min($"doc_id").as("winner"), count(lit(1)).as("n_cands"))
      .orderBy($"url")
  }

  val c5Sql: String =
    """SELECT 'http://www.' || source || '.com/p/' || (doc_id % 97) AS url,
      |  min(doc_id) AS winner, count(*) AS n_cands
      |FROM documents GROUP BY 1 ORDER BY url""".stripMargin

  /** c6: per-host politeness budget — the REAL Politeness operator
    * (contended-host split + per-host cutoffs) vs a plain SQL window;
    * budget 5 per host (P1). */
  def c6HostBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frontier = docs(s, dir).select(
      concat(lit("http://"), $"source", lit(".com/p/"), $"doc_id").as("url"),
      xxhash64($"doc_id").as("url_hash"),
      $"source".as("host"),
      lit(1).as("depth"),
      $"doc_id".as("parent_ord"),
      lit(0).as("link_index"))
    val (fetch, defer) = Politeness.select(frontier, Robots.policy(Seq.empty, s), 5)
    fetch.withColumn("state", lit("fetch"))
      .unionByName(defer.withColumn("state", lit("deferred")))
      .select($"url", $"host", $"parent_ord", $"state")
      .orderBy($"host", $"parent_ord")
  }

  val c6Sql: String =
    """SELECT 'http://' || source || '.com/p/' || doc_id AS url,
      |  source AS host, doc_id AS parent_ord,
      |  CASE WHEN row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 5
      |    THEN 'fetch' ELSE 'deferred' END AS state
      |FROM documents ORDER BY host, parent_ord""".stripMargin

  /** c7: robots longest-prefix-match compiled to a Catalyst predicate
    * (O8): on hosts src0/src1/src2, subtree /p/1 is disallowed. */
  def c7Robots(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.model.RobotsRule
    val rules =
      Seq("src0", "src1", "src2").flatMap(h => Seq(
        RobotsRule(h, "/", allow = true, crawl_delay = 1),
        RobotsRule(h, "/p/1", allow = false, crawl_delay = 1)))
    val withUrl = docs(s, dir)
      .withColumn("host", $"source")
      .withColumn("path", concat(lit("/p/"), pmod($"doc_id", lit(25))))
    withUrl
      .filter(RobotsTxt.compileColumn(Robots.groups(rules), $"host", $"path"))
      .select($"doc_id", $"host", $"path")
      .orderBy($"doc_id")
  }

  val c7Sql: String =
    """SELECT doc_id, source AS host, '/p/' || (doc_id % 25) AS path
      |FROM documents
      |WHERE NOT (source IN ('src0','src1','src2')
      |  AND ('/p/' || (doc_id % 25)) LIKE '/p/1%')
      |ORDER BY doc_id""".stripMargin

  /** c9: the robots.txt TEXT compiler end to end — group selection (an
    * `otherbot` group that must NOT apply), `*` wildcards, `$` anchors,
    * longest-match with allow-on-tie, and Crawl-delay → budget — parsed
    * by RobotsTxt.parse and compiled to a Catalyst predicate. The oracle
    * twin hand-translates the fixture's decision table (reference analog:
    * temoto/robotstxt via colly, /root/reference/go.mod:22). */
  val robotsTxtFixture: String =
    """# c9 fixture — graftbot must select the * group
      |User-agent: otherbot
      |Disallow: /
      |
      |User-agent: *
      |Disallow: /p/1
      |Allow: /p/1$
      |Disallow: /*/secret
      |Crawl-delay: 2
      |""".stripMargin

  def c9RobotsTxt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grp = RobotsTxt.parse(robotsTxtFixture, "graftbot")
    val byHost = Seq("src0", "src1", "src2").map(_ -> grp).toMap
    val withPath = docs(s, dir)
      .withColumn("host", $"source")
      .withColumn("path",
        when(pmod($"doc_id", lit(5)) === 0,
          concat(lit("/d"), pmod($"doc_id", lit(3)), lit("/secret/f")))
          .otherwise(concat(lit("/p/"), pmod($"doc_id", lit(25)))))
    withPath.select($"doc_id", $"host", $"path",
        RobotsTxt.compileColumn(byHost, $"host", $"path").as("allowed"),
        RobotsTxt.budgetColumn(byHost, $"host", 8).cast("int").as("budget"))
      .orderBy($"doc_id")
  }

  val c9Sql: String =
    """WITH u AS (
      |  SELECT doc_id, source AS host,
      |    CASE WHEN doc_id % 5 = 0 THEN '/d' || (doc_id % 3) || '/secret/f'
      |         ELSE '/p/' || (doc_id % 25) END AS path
      |  FROM documents)
      |SELECT doc_id, host, path,
      |  CASE WHEN host NOT IN ('src0','src1','src2') THEN true
      |       WHEN path LIKE '/%/secret%' THEN false  -- Disallow /*/secret (len 9)
      |       WHEN path = '/p/1' THEN true            -- Allow /p/1$ (5) beats /p/1 (4)
      |       WHEN path LIKE '/p/1%' THEN false       -- Disallow /p/1
      |       ELSE true END AS allowed,
      |  CASE WHEN host IN ('src0','src1','src2') THEN 4 ELSE 8 END AS budget
      |FROM u ORDER BY doc_id""".stripMargin

  /** c8: two-wave BFS seed expansion with dedup — the frontier recurrence
    * (fetch-join, link fan-out, left-anti dedup) as one plan (D2/D3 over a
    * derived link graph: doc d links to (2d+1) mod N and (3d+2) mod N). */
  def c8WaveExpansion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 500 // deterministic modulus (≥ table size keeps graph total)
    val d = docs(s, dir).select($"doc_id")
    val links = d.select($"doc_id".as("src"),
        explode(array(pmod($"doc_id" * 2 + 1, lit(n)), pmod($"doc_id" * 3 + 2, lit(n)))).as("dst"))
    val seed = d.filter($"doc_id" === 0).select($"doc_id".as("node"))
    val wave1 = links.join(seed, links("src") === seed("node"), "left_semi")
      .select($"dst".as("node")).distinct()
      .join(seed, Seq("node"), "left_anti")
    val seen1 = seed.unionByName(wave1)
    val wave2 = links.join(wave1, links("src") === wave1("node"), "left_semi")
      .select($"dst".as("node")).distinct()
      .join(seen1, Seq("node"), "left_anti")
    seed.withColumn("wave", lit(0))
      .unionByName(wave1.withColumn("wave", lit(1)))
      .unionByName(wave2.withColumn("wave", lit(2)))
      .orderBy($"wave", $"node")
  }

  val c8Sql: String =
    """WITH links AS (
      |  SELECT doc_id AS src, (doc_id * 2 + 1) % 500 AS dst FROM documents
      |  UNION ALL
      |  SELECT doc_id AS src, (doc_id * 3 + 2) % 500 AS dst FROM documents),
      |seed AS (SELECT doc_id AS node FROM documents WHERE doc_id = 0),
      |wave1 AS (
      |  SELECT DISTINCT dst AS node FROM links WHERE src IN (SELECT node FROM seed)
      |  AND dst NOT IN (SELECT node FROM seed)),
      |wave2 AS (
      |  SELECT DISTINCT dst AS node FROM links WHERE src IN (SELECT node FROM wave1)
      |  AND dst NOT IN (SELECT node FROM seed UNION ALL SELECT node FROM wave1))
      |SELECT node, 0 AS wave FROM seed
      |UNION ALL SELECT node, 1 AS wave FROM wave1
      |UNION ALL SELECT node, 2 AS wave FROM wave2
      |ORDER BY wave, node""".stripMargin
}
