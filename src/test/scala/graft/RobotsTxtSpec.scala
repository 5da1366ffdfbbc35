package graft

import graft.model.RobotsRule
import graft.operators.{Robots, RobotsTxt}
import graft.operators.RobotsTxt.{Group, TxtRule}
import graft.oracle.CrawlOracle
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Table-driven gates for the robots.txt compiler — the RFC 9309 /
  * Google-documented matching examples plus the group-selection rules
  * temoto/robotstxt (the reference's enforcement path, go.mod:22)
  * implements, and parity between the driver parser and the distributed
  * parse_robots_txt Catalyst expression. */
class RobotsTxtSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // ---- pattern matching + longest-match decision (RFC 9309 §2.2.2) ------

  private def decide(rules: Seq[(String, Boolean)], path: String): Boolean =
    RobotsTxt.allowed(Group(rules.map(r => TxtRule(r._1, r._2)), None), path)

  test("longest match wins; allow wins length ties (RFC 9309 §2.2.2 examples)") {
    val cases = Seq(
      // (allow pattern, disallow pattern, path, expected)
      (Seq("/p" -> true, "/" -> false), "/page", true),          // longest wins
      (Seq("/folder" -> true, "/folder" -> false), "/folder/page", true), // tie → allow
      (Seq("/page" -> true, "/*.ph" -> false), "/page.php5", true),      // equal length → allow
      (Seq("/page" -> true, "/*.ph" -> false), "/test.ph", false),
      (Seq("/$" -> true, "/" -> false), "/", true),              // $ on root
      (Seq("/$" -> true, "/" -> false), "/page", false),
      (Seq("/fish*.php" -> true, "/" -> false), "/fishheads/catfish.php?p=2", true))
    cases.foreach { case (rules, path, want) =>
      assert(decide(rules, path) == want, s"rules=$rules path=$path")
    }
  }

  test("wildcard and anchor semantics") {
    assert(RobotsTxt.matches("/fish", "/fish.html"))
    assert(RobotsTxt.matches("/fish", "/fishheads"))
    assert(!RobotsTxt.matches("/fish", "/Fish.asp")) // case-sensitive paths
    assert(RobotsTxt.matches("/fish*", "/fishheads/yummy.html"))
    assert(RobotsTxt.matches("/fish/", "/fish/salmon.htm"))
    assert(!RobotsTxt.matches("/fish/", "/fish.html"))
    assert(RobotsTxt.matches("/*.php", "/folder/filename.php?parameters"))
    assert(!RobotsTxt.matches("/*.php$", "/filename.php?parameters"))
    assert(RobotsTxt.matches("/*.php$", "/folder/filename.php"))
    assert(RobotsTxt.matches("/fish*.php", "/fish.php"))
    assert(!RobotsTxt.matches("/fish*.php", "/Fish.PHP"))
  }

  test("no matching rule (or no rules at all) means allowed") {
    assert(decide(Seq("/private" -> false), "/public"))
    assert(decide(Seq.empty, "/anything"))
  }

  // ---- parsing: groups, agents, merging, delays --------------------------

  test("group selection: longest agent prefix wins; * is the fallback") {
    val body =
      """User-agent: graftbot-images
        |Disallow: /img
        |
        |User-agent: graftbot
        |Disallow: /bot
        |
        |User-agent: *
        |Disallow: /all
        |""".stripMargin
    assert(RobotsTxt.parse(body, "graftbot-images/1.0").rules ==
      Seq(TxtRule("/img", false)))
    assert(RobotsTxt.parse(body, "graftbot").rules == Seq(TxtRule("/bot", false)))
    assert(RobotsTxt.parse(body, "randombot").rules == Seq(TxtRule("/all", false)))
  }

  test("consecutive user-agent lines share one group; same-agent groups merge") {
    val body =
      """User-agent: a
        |User-agent: b
        |Disallow: /shared
        |
        |User-agent: b
        |Disallow: /extra
        |""".stripMargin
    assert(RobotsTxt.parse(body, "a").rules == Seq(TxtRule("/shared", false)))
    assert(RobotsTxt.parse(body, "b").rules ==
      Seq(TxtRule("/shared", false), TxtRule("/extra", false)))
  }

  test("empty Disallow means no restriction; rules before any group are ignored") {
    val body =
      """Disallow: /orphan
        |User-agent: *
        |Disallow:
        |Allow: /x
        |""".stripMargin
    val g = RobotsTxt.parse(body, "anybot")
    assert(g.rules == Seq(TxtRule("/x", true)))
    assert(RobotsTxt.allowed(g, "/orphan/page"))
  }

  test("comments, case-insensitive fields, crawl-delay (max across merged groups)") {
    val body =
      """# top comment
        |USER-AGENT: *   # inline comment
        |DISALLOW: /a
        |crawl-delay: 2.5
        |
        |User-Agent: *
        |Crawl-Delay: 4
        |""".stripMargin
    val g = RobotsTxt.parse(body, "anybot")
    assert(g.rules == Seq(TxtRule("/a", false)))
    assert(g.crawlDelay.contains(4)) // ceil(2.5)=3, max(3,4)=4
  }

  test("an unparseable crawl-delay is ignored, rules survive") {
    val g = RobotsTxt.parse("User-agent: *\nCrawl-delay: soon\nDisallow: /x", "bot")
    assert(g.crawlDelay.isEmpty && g.rules == Seq(TxtRule("/x", false)))
  }

  // ---- compiled Column == driver decision --------------------------------

  test("compileColumn agrees with the driver matcher on a path matrix") {
    import spark.implicits._
    val body =
      """User-agent: *
        |Disallow: /p/1
        |Allow: /p/1$
        |Disallow: /*/secret
        |Allow: /open*.html$
        |""".stripMargin
    val g = RobotsTxt.parse(body, "graftbot")
    val byHost = Map("h.com" -> g)
    val paths = Seq("/p/1", "/p/10", "/p/2", "/d/secret/x", "/open-a.html",
      "/open-a.html?x", "/", "/p/1/sub")
    val df = paths.map(p => ("h.com", p)).toDF("host", "path")
      .withColumn("allowed", RobotsTxt.compileColumn(byHost, col("host"), col("path")))
    val got = df.collect().map(r => r.getString(1) -> r.getBoolean(2)).toMap
    paths.foreach { p =>
      assert(got(p) == RobotsTxt.allowed(g, p), s"column vs driver mismatch on $p")
    }
    // unruled host is always allowed
    val other = Seq(("x.com", "/p/10")).toDF("host", "path")
      .withColumn("allowed", RobotsTxt.compileColumn(byHost, col("host"), col("path")))
    assert(other.head.getBoolean(2))
  }

  // ---- distributed parse expression == driver parse -----------------------

  test("JoinedTxt (packed broadcast join) decides identically to CompiledTxt incl. wildcards") {
    import spark.implicits._
    val bodies = Seq(
      ("h1.com", "User-agent: *\nDisallow: /p/1\nAllow: /p/1$\nDisallow: /*/secret\nAllow: /open*.html$\nCrawl-delay: 3"),
      ("h2.com", "User-agent: *\nDisallow: /\nAllow: /pub\nCrawl-delay: 1"),
      ("h3.com", "# empty"),
      ("h4.com", "User-agent: graftbot\nDisallow: /g\n\nUser-agent: *\nDisallow: /x"))
    val bodiesDf = bodies.toDF("host", "body")
    val compiled = RobotsTxt.CompiledTxt(
      bodies.map { case (h, b) => h -> RobotsTxt.parse(b, "graftbot") }.toMap)
    val joined = RobotsTxt.JoinedTxt(RobotsTxt.packTxt(RobotsTxt.bodyRows(bodiesDf, "graftbot")))
    // below the cutover the distributed parse collects to the driver parse
    assert(RobotsTxt.policyFromTxt(bodiesDf, "graftbot") == compiled)
    val paths = Seq("/p/1", "/p/10", "/d/secret/x", "/open-a.html", "/open-a.html?x",
      "/", "/pub/x", "/x/y", "/g/z", "/anything")
    val rows = for { h <- bodies.map(_._1) :+ "unruled.com"; p <- paths } yield (h, p)
    val df = rows.toDF("host", "path")
    def decisions(p: graft.operators.Robots.RobotsPolicy) =
      p.withAllowed(df, col("path"), "ok").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(decisions(compiled) == decisions(joined))
    def budgets(p: graft.operators.Robots.RobotsPolicy) =
      p.withBudget(df.select("host").distinct(), 12, "b").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
    val bc = budgets(compiled); val bj = budgets(joined)
    assert(bc == bj, s"budget mismatch: $bc vs $bj")
    assert(bc("h1.com") == 4 && bc("unruled.com") == 12)
  }

  test("parse_robots_txt expression parses where the data lives, identically") {
    import spark.implicits._
    val bodies = Seq(
      ("h1", "User-agent: *\nDisallow: /a\nAllow: /a$\nCrawl-delay: 3"),
      ("h2", "User-agent: graftbot\nDisallow: /g\n\nUser-agent: *\nDisallow: /x"),
      ("h3", "# only comments"))
    val parsed = bodies.toDF("host", "body").repartition(3)
      .select(col("host"),
        RobotsTxt.parse_robots_txt(col("body"), lit("graftbot")).as("p"))
      .select(col("host"), col("p.rules").as("rules"), col("p.crawl_delay").as("delay"))
      .collect()
      .map(r => r.getString(0) -> (
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => TxtRule(x.getString(0), x.getBoolean(1))),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
      .toMap
    bodies.foreach { case (h, body) =>
      val g = RobotsTxt.parse(body, "graftbot")
      assert(parsed(h)._1 == g.rules, s"rules mismatch for $h")
      assert(parsed(h)._2 == g.crawlDelay, s"delay mismatch for $h")
    }
  }

  // ---- prefix rows: one decision rule on every form and the oracle -------

  /** `rules` on host h.com decided over `paths` three ways: the policy
    * over h.com alone (compiled), the policy with 100 padded hosts
    * (packed), and the oracle. */
  private def decideEverywhere(rules: Seq[RobotsRule], paths: Seq[String])
      : Seq[Map[String, Boolean]] = {
    import spark.implicits._
    val pad = (0 until 100).map(i =>
      RobotsRule(s"pad$i.example.net", "/blocked", allow = false, crawl_delay = 1))
    val df = paths.map(p => ("h.com", p)).toDF("host", "path")
    def engine(rs: Seq[RobotsRule], form: Class[_]): Map[String, Boolean] = {
      val policy = Robots.policy(rs, spark)
      assert(form.isInstance(policy), s"${rs.size} rules built $policy")
      try policy.withAllowed(df, col("path"), "ok").collect()
        .map(r => r.getString(1) -> r.getBoolean(2)).toMap
      finally policy.release()
    }
    Seq(engine(rules, classOf[RobotsTxt.CompiledTxt]),
      engine(rules ++ pad, classOf[RobotsTxt.JoinedTxt]),
      paths.map(p => p -> CrawlOracle.robotsAllowed(rules, s"http://h.com$p")).toMap)
  }

  test("duplicate prefix, opposite allow: allow on every form, either order") {
    val want = Map("/p/1" -> true, "/p/1/x" -> true, "/p/2" -> false, "/" -> true)
    Seq(true, false).foreach { allowFirst =>
      val rules = Seq(
        RobotsRule("h.com", "/p/1", allow = allowFirst, crawl_delay = 1),
        RobotsRule("h.com", "/p/1", allow = !allowFirst, crawl_delay = 1),
        RobotsRule("h.com", "/p", allow = false, crawl_delay = 1))
      decideEverywhere(rules, want.keys.toSeq).zip(Seq("compiled", "packed", "oracle"))
        .foreach { case (got, form) =>
          assert(got == want, s"$form, allow listed first = $allowFirst")
        }
    }
  }

  test("a wildcard path_prefix decides the same on the engine and the oracle") {
    val want = Map("/x.php" -> false, "/a/b.php" -> false, "/a/ok.php" -> true,
      "/x.phps" -> true, "/a/b.html" -> true, "/a/ok.php/y" -> false)
    Seq(false, true).foreach { reversed =>
      val rules = Seq(
        RobotsRule("h.com", "/*.php$", allow = false, crawl_delay = 1),
        RobotsRule("h.com", "/a/", allow = true, crawl_delay = 1),
        RobotsRule("h.com", "/a/ok.php$", allow = true, crawl_delay = 1),
        RobotsRule("h.com", "/a/*/y", allow = false, crawl_delay = 1))
      val ordered = if (reversed) rules.reverse else rules
      decideEverywhere(ordered, want.keys.toSeq).zip(Seq("compiled", "packed", "oracle"))
        .foreach { case (got, form) =>
          assert(got == want, s"$form, rules reversed = $reversed")
        }
    }
  }
}
