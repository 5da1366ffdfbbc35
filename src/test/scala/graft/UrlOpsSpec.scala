package graft

import graft.functions.UrlOps
import graft.functions.UrlExpressions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class UrlOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  val canonicalCases: Seq[(String, String)] = Seq(
    // north-rule: lowercase host, strip default port, strip fragment, sort query
    ("HTTP://WWW.Example.COM:80/a/b", "http://www.example.com/a/b"),
    ("https://Example.com:443/x", "https://example.com/x"),
    ("https://example.com:8443/x", "https://example.com:8443/x"),
    ("http://example.com/a#frag", "http://example.com/a"),
    ("http://example.com/p?b=2&a=1", "http://example.com/p?a=1&b=2"),
    ("http://example.com/p?b=2&a=1&a=0", "http://example.com/p?a=0&a=1&b=2"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com?z=1&y=2#f", "http://example.com/?y=2&z=1"),
    ("http://example.com/p?", "http://example.com/p"),
    ("ftp://example.com/f", null),      // non-http(s) dropped
    ("not a url", null),
    ("/relative/only", null),
    ("mailto:x@example.com", null))

  test("canonicalize: north-rule cases") {
    canonicalCases.foreach { case (in, want) =>
      assert(UrlOps.canonicalize(in) == want, s"canonicalize($in)")
    }
  }

  test("canonicalize is idempotent") {
    canonicalCases.collect { case (in, want) if want != null =>
      assert(UrlOps.canonicalize(want) == want, s"idempotence of $want")
    }
  }

  val resolveCases: Seq[(String, String, String)] = Seq(
    // RFC 3986 §5.4 normal examples (base adapted to http)
    ("http://a/b/c/d;p?q", "g", "http://a/b/c/g"),
    ("http://a/b/c/d;p?q", "./g", "http://a/b/c/g"),
    ("http://a/b/c/d;p?q", "g/", "http://a/b/c/g/"),
    ("http://a/b/c/d;p?q", "/g", "http://a/g"),
    ("http://a/b/c/d;p?q", "//g", "http://g/"),
    ("http://a/b/c/d;p?q", "?y", "http://a/b/c/d;p?y"),
    ("http://a/b/c/d;p?q", "g?y", "http://a/b/c/g?y"),
    ("http://a/b/c/d;p?q", "#s", "http://a/b/c/d;p?q"),      // fragment stripped
    ("http://a/b/c/d;p?q", "g#s", "http://a/b/c/g"),
    ("http://a/b/c/d;p?q", "", "http://a/b/c/d;p?q"),
    ("http://a/b/c/d;p?q", ".", "http://a/b/c/"),
    ("http://a/b/c/d;p?q", "..", "http://a/b/"),
    ("http://a/b/c/d;p?q", "../g", "http://a/b/g"),
    ("http://a/b/c/d;p?q", "../..", "http://a/"),
    ("http://a/b/c/d;p?q", "../../g", "http://a/g"),
    ("http://a/b/c/d;p?q", "../../../g", "http://a/g"), // over-navigation clamps
    ("http://a/b/c/d;p?q", "http://B/X?b=1&a=2", "http://b/X?a=2&b=1"),
    ("http://hot.example.com/p/5", "../p/7", "http://hot.example.com/p/7"),
    ("http://hot.example.com/p/5", "/p/7#x", "http://hot.example.com/p/7"))

  test("resolve+canonicalize: RFC 3986 cases") {
    resolveCases.foreach { case (base, ref, want) =>
      assert(UrlOps.resolveAndCanonicalize(base, ref) == want, s"resolve($base, $ref)")
    }
  }

  test("media filter keeps substring semantics (crawler.go:295-306)") {
    assert(UrlOps.isMediaUrl("http://x/a.png"))
    assert(UrlOps.isMediaUrl("http://x/a.png/page"))   // substring, not suffix
    assert(UrlOps.isMediaUrl("http://x/x.jpeg?size=2"))
    assert(!UrlOps.isMediaUrl("http://x/apng"))
    assert(!UrlOps.isMediaUrl("http://x/page.html"))
  }

  test("urlHash64 matches Spark builtin xxhash64") {
    import spark.implicits._
    val urls = canonicalCases.collect { case (_, c) if c != null => c } ++
      Seq("http://hot.example.com/", "https://site1.example.org/p/3?a=1")
    val sparkHashes = urls.toDF("u").select(xxhash64(col("u"))).collect().map(_.getLong(0))
    val localHashes = urls.map(UrlOps.urlHash64)
    assert(sparkHashes.toSeq == localHashes.toSeq)
  }

  test("Catalyst expressions agree with UrlOps (eval + codegen path)") {
    import spark.implicits._
    val rows = resolveCases.map { case (b, r, _) => (b, r) }
    val got = rows.toDF("base", "href")
      .select(resolve_url(col("base"), col("href")).as("c"),
        url_host(resolve_url(col("base"), col("href"))).as("h"),
        is_media_url(col("base")).as("m"))
      .collect()
    rows.zip(got).foreach { case ((b, r), row) =>
      val want = UrlOps.resolveAndCanonicalize(b, r)
      assert(Option(row.getString(0)) == Option(want), s"expr resolve($b,$r)")
      if (want != null)
        assert(row.getString(1) == UrlOps.hostOf(UrlOps.parse(want).authority))
    }
    // canonicalize expression over messy inputs
    val cgot = canonicalCases.map(_._1).toDF("u")
      .select(canonicalize_url(col("u"))).collect().map(r => Option(r.getString(0)))
    assert(cgot.toSeq == canonicalCases.map(c => Option(c._2)))
  }

  test("SQL registration works") {
    UrlExpressionsRegistration.ensure(spark)
    val r = spark.sql(
      "SELECT canonicalize_url('HTTP://X.COM:80/a?b=1&a=2#f') AS c").head.getString(0)
    assert(r == "http://x.com/a?a=2&b=1")
  }
}

object UrlExpressionsRegistration {
  @volatile private var done = false
  def ensure(s: org.apache.spark.sql.SparkSession): Unit = synchronized {
    if (!done) { graft.functions.UrlExpressions.register(s); done = true }
  }
}
