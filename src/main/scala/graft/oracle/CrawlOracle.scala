package graft.oracle

import graft.functions.UrlOps
import graft.operators.RobotsTxt
import graft.model._

import scala.collection.mutable

/** Single-threaded golden oracle (SURVEY §5): encodes the reference crawl
  * semantics exactly, with the north-rule equivalence criterion —
  * BFS-with-priority ordered by (depth, parent_rank, link_index) — plus
  * per-host politeness budgets and robots longest-prefix rules. The Spark
  * engine ([[graft.plans.CrawlJob]]) must replay its outputs bit-for-bit.
  *
  * Shared pipeline semantics (the engine implements the same stages):
  *  1. candidate link  = resolve(base, href) |> canonicalize
  *     (crawler.go:198 AbsoluteURL; north-rule canonical form)
  *  2. validity filter — null canonical form dropped (crawler.go:272-278)
  *  3. media filter    — substring extension match (crawler.go:295-306)
  *  4. domain filter   — exact host ∈ seed hosts when on_domain
  *     (colly AllowedDomains, crawler.go:76-78)
  *  5. dedup           — first consideration wins; URL enters the seen set
  *     at ADMISSION time keyed by xxhash64(url) (colly visited store,
  *     go.mod:12); later candidates count dedup_hits
  *  6. robots          — longest-prefix rule on the path; disallow counts
  *     robots_blocked once (the URL is already in seen, never retried)
  *  7. admission       — frontier entry (depth+1, parent_rank, link_index)
  *
  * Wave = one politeness round: all frontier entries sorted by priority,
  * per-host prefix of size budget(host) fetched (budget = max(1,
  * hostBudget / crawl_delay)), remainder deferred to the next wave with
  * priority unchanged. Visit rank is assigned in fetch order (misses —
  * dangling links — still consume a rank: colly logs "Visiting" before the
  * response exists, crawler.go:206-209).
  */
object CrawlOracle {

  final case class CrawlConfig(
      seeds: Seq[String],
      onDomain: Boolean = false,
      hostBudget: Int = 4,
      maxWaves: Int = 64,
      maxRetries: Int = 0,
      virtualClock: Boolean = false) // P1 ts_next carryover (see delayOf/clock below)

  final case class Result(
      visits: Vector[Visit],
      seen: Vector[SeenUrl],
      docs: Vector[CrawlDoc],
      metrics: Vector[WaveMetrics])

  private final case class Entry(
      url: String, hash: Long, host: String, depth: Int, parentRank: Long, linkIndex: Int)

  def budgetOf(rules: Seq[RobotsRule], host: String, hostBudget: Int): Int = {
    val delays = rules.filter(_.host == host).map(_.crawl_delay)
    val d = if (delays.isEmpty) 1 else delays.max
    math.max(1, hostBudget / math.max(1, d))
  }

  /** Effective crawl delay in virtual ticks: max over the host's rules,
    * 1 when unruled (the robots policies' withDelay twin). */
  def delayOf(rules: Seq[RobotsRule], host: String): Long = {
    val delays = rules.filter(_.host == host).map(_.crawl_delay)
    math.max(1, if (delays.isEmpty) 1 else delays.max).toLong
  }

  /** Virtual-clock wave budget: wave w spans ticks [w·T, (w+1)·T),
    * T = hostBudget; the host fetches at max(ts_next, w·T), +d, +2d, …
    * below the wave end — ⌈(waveEnd − start)/d⌉ slots, possibly 0 when
    * last wave's overhang blocks the whole wave
    * (Politeness.clockedBudgeter's twin). */
  def clockedBudgetOf(nextTs: Long, wave: Int, ticksPerWave: Int, d: Long): Int = {
    val wStart = wave.toLong * ticksPerWave
    val wEnd = wStart + ticksPerWave
    val start = math.max(nextTs, wStart)
    if (start >= wEnd) 0 else (((wEnd - start) + d - 1) / d).toInt
  }

  /** The RFC 9309 robots decision over the canonical URL's path (each
    * `path_prefix` a robots.txt pattern, [[RobotsTxt.allowed]]): longest
    * match wins, allow wins ties, no matching rule → allowed. */
  def robotsAllowed(rules: Seq[RobotsRule], url: String): Boolean = {
    val p = UrlOps.parse(url)
    val host = UrlOps.hostOf(p.authority)
    val path = if (p.path.isEmpty) "/" else p.path
    RobotsTxt.allowed(RobotsTxt.Group(
      rules.collect { case r if r.host == host => RobotsTxt.TxtRule(r.path_prefix, r.allow) },
      None), path)
  }

  def run(corpus: Seq[WebDoc], rules: Seq[RobotsRule], cfg: CrawlConfig): Result = {
    val docsByUrl: Map[String, WebDoc] = corpus.map(d => d.doc_id -> d).toMap
    val seen = mutable.LinkedHashMap.empty[Long, SeenUrl]
    val visits = Vector.newBuilder[Visit]
    val outDocs = Vector.newBuilder[CrawlDoc]
    val metrics = Vector.newBuilder[WaveMetrics]

    val seedHosts: Set[String] =
      cfg.seeds.flatMap { s =>
        val c = UrlOps.canonicalize(s)
        if (c == null) None else Option(UrlOps.hostOf(UrlOps.parse(c).authority))
      }.toSet

    var frontier = Vector.newBuilder[Entry]
    var nextRank = 1L
    // seed admission (wave 0 candidates; depth 0, parent rank 0)
    cfg.seeds.zipWithIndex.foreach { case (s, i) =>
      val c = UrlOps.canonicalize(s)
      if (c != null) {
        val h = UrlOps.urlHash64(c)
        if (!seen.contains(h)) {
          seen(h) = SeenUrl(h, c, 0)
          frontier += Entry(c, h, UrlOps.hostOf(UrlOps.parse(c).authority), 0, 0L, i)
        }
      }
    }

    var pending = frontier.result()
    // bounded fetch-miss retry policy: a missed URL with remaining retry budget re-enters the
    // next wave at its ORIGINAL priority; its visit consumes a fresh rank
    // each attempt; the seen set is unchanged (the URL stays seen, so link
    // rediscovery still counts dedup_hits).
    val fails = mutable.Map.empty[Long, Int]
    val clock = mutable.Map.empty[String, Long] // ts_next per host (virtualClock)
    var wave = 0
    while (pending.nonEmpty && wave < cfg.maxWaves) {
      val ordered = pending.sortBy(e => (e.depth, e.parentRank, e.linkIndex))
      val taken = mutable.Map.empty[String, Int]
      val fetchSet = Vector.newBuilder[Entry]
      val deferSet = Vector.newBuilder[Entry]
      ordered.foreach { e =>
        val b =
          if (cfg.virtualClock)
            clockedBudgetOf(clock.getOrElse(e.host, 0L), wave, cfg.hostBudget,
              delayOf(rules, e.host))
          else budgetOf(rules, e.host, cfg.hostBudget)
        val t = taken.getOrElse(e.host, 0)
        if (t < b) { taken(e.host) = t + 1; fetchSet += e }
        else deferSet += e
      }
      if (cfg.virtualClock) taken.foreach { case (h, k) =>
        clock(h) = math.max(clock.getOrElse(h, 0L), wave.toLong * cfg.hostBudget) +
          k.toLong * delayOf(rules, h)
      }
      val fetched = fetchSet.result()
      val deferred = deferSet.result()

      var nFetched = 0L
      var nMiss = 0L
      var nRobots = 0L
      var nDedup = 0L
      var nRetried = 0L
      val newEntries = Vector.newBuilder[Entry]
      val retryEntries = Vector.newBuilder[Entry]

      fetched.foreach { e =>
        val rank = nextRank; nextRank += 1
        visits += Visit(rank, wave, e.url)
        docsByUrl.get(e.url) match {
          case None =>
            nMiss += 1
            val f = fails.getOrElse(e.hash, 0) + 1
            fails(e.hash) = f
            if (f <= cfg.maxRetries) { nRetried += 1; retryEntries += e }
          case Some(doc) =>
            nFetched += 1
            outDocs += extract(doc)
            val hrefs = doc.spans.filter(_.kind == "a").sortBy(_.offset)
            var li = 0
            hrefs.foreach { span =>
              val cand = UrlOps.resolveAndCanonicalize(doc.doc_id, span.text)
              val idx = li; li += 1
              if (cand != null && !UrlOps.isMediaUrl(cand)) {
                val host = UrlOps.hostOf(UrlOps.parse(cand).authority)
                if (!cfg.onDomain || seedHosts.contains(host)) {
                  val h = UrlOps.urlHash64(cand)
                  if (seen.contains(h)) nDedup += 1
                  else {
                    seen(h) = SeenUrl(h, cand, wave + 1)
                    if (!robotsAllowed(rules, cand)) nRobots += 1
                    else newEntries += Entry(cand, h, host, e.depth + 1, rank, idx)
                  }
                }
              }
            }
        }
      }
      metrics += WaveMetrics(wave, nFetched, deferred.size.toLong, nRobots, nDedup, nMiss,
        nRetried)
      pending = deferred ++ newEntries.result() ++ retryEntries.result()
      wave += 1
    }
    Result(visits.result(), seen.values.toVector, outDocs.result(), metrics.result())
  }

  /** RenderedPage extraction (crawler.go:82-131): title = concatenation of
    * title spans; meta fields last-wins; source = kind → texts in document
    * (offset) order for the fixed kind list h1..h4,p. */
  def extract(doc: WebDoc): CrawlDoc = {
    val spans = doc.spans.sortBy(_.offset)
    val title = spans.filter(_.kind == "title").map(_.text).mkString("")
    def lastMeta(kind: String): String = {
      val m = spans.filter(_.kind == kind)
      if (m.isEmpty) "" else m.last.text
    }
    val og = {
      val m = spans.filter(_.kind == "meta.ogimage")
      if (m.isEmpty) "" else Option(m.last.media_ref).getOrElse("")
    }
    val kinds = Seq("h1", "h2", "h3", "h4", "p")
    val source: Map[String, Seq[String]] = kinds.flatMap { k =>
      val texts = spans.filter(_.kind == k).map(_.text).toSeq
      if (texts.isEmpty) None else Some(k -> texts)
    }.toMap
    CrawlDoc(UrlOps.md5Id(doc.doc_id), doc.doc_id, title,
      lastMeta("meta.description"), lastMeta("meta.keywords"), og, source)
  }
}
