package graft.streaming

import graft.functions.UrlExpressions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surfaces (SURVEY §7.6 — the reference's
  * callback-driven "streaming" re-expressed as real streams):
  *
  *  - crawl-request intake: `POST /crawl` (serving/handlers.go:25-96)
  *    becomes a stream of CrawlRequest rows — validation + seed
  *    canonicalization as streaming transforms feeding the seed inbox
  *    that the wave loop drains;
  *  - telemetry windows: the reference's per-visit log firehose
  *    (logging/hook.go:116-123) becomes watermarked event-time windows;
  *  - per-host politeness state: mapGroupsWithState tracks a virtual
  *    next-allowed-fetch time per host — the streaming twin of the
  *    wave-loop budget.
  */
object StreamOps {

  val crawlRequestSchema: StructType = StructType(Seq(
    StructField("index", StringType),
    StructField("url", StringType),
    StructField("on_domain", BooleanType),
    StructField("engine", StringType),
    StructField("type", StringType),
    StructField("ts", TimestampType)))

  /** Validation per serving/handlers.go:41-69 (type whitelist, engine and
    * index required) + O1/O2 canonicalization; invalid rows are routed to
    * a rejects column instead of HTTP 400. */
  def validateRequests(requests: DataFrame): DataFrame =
    requests
      .withColumn("valid_type", col("type").isin("elasticsearch", "app-search"))
      .withColumn("valid_engine",
        col("type") =!= "app-search" || (col("engine").isNotNull && col("engine") =!= ""))
      .withColumn("valid_index",
        col("type") =!= "elasticsearch" || (col("index").isNotNull && col("index") =!= ""))
      .withColumn("canonical_url", canonicalize_url(col("url")))
      .withColumn("status",
        when(!col("valid_type"), lit(400))
          .when(!col("valid_engine"), lit(400))
          .when(!col("valid_index"), lit(400))
          .when(col("canonical_url").isNull, lit(400))
          .otherwise(lit(201))) // body 201 vs header 202 quirk: handlers.go:93
      .drop("valid_type", "valid_engine", "valid_index")

  /** Watermarked event-time windows over the events stream — the
    * telemetry pipeline (S6) as a streaming aggregation. */
  def eventWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming seed intake, stage 1 (stateless transforms): validated
    * requests → frontier-entry-shaped rows. `seq` is the request's global
    * arrival number; it becomes link_index, exactly the "position in the
    * seed list" the driver-side seeds carry — so intake order IS seed
    * order. */
  def seedEntries(requests: DataFrame): DataFrame =
    validateRequests(requests)
      .filter(col("status") === 201)
      .select(
        col("canonical_url").as("url"),
        xxhash64(col("canonical_url")).as("url_hash"),
        url_host(col("canonical_url")).as("host"),
        lit(0).as("depth"),
        lit(0L).as("parent_ord"),
        col("seq").cast("int").as("link_index"))

  /** Seed intake, stage 2 (the per-micro-batch sink): append validated
    * seed entries to the durable seed INBOX only. The wave loop drains the
    * inbox at start and at each wave boundary (CrawlJob.drainInbox, the
    * one admission path; the crawl's own fresh-start seeds arrive here
    * too, as batch -1). Intake and crawling run concurrently on one state
    * root with a single writer per table (the streaming query owns the
    * inbox, the loop owns frontier/seen), the lock-free twin of the
    * reference's Init-returns-while-the-crawl-goroutine-runs
    * (crawler.go:63-67).
    * Idempotent under foreachBatch's at-least-once replay via the
    * intake_batch marker; an empty batch advances the marker with a
    * metadata-only commit. */
  def enqueueSeedBatch(inbox: graft.sources.IceLite.Table,
      frontier: Option[graft.sources.IceLite.Table] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    if (inbox.snapshots.exists(_.counters.get("intake_batch").contains(batchId)))
      return // fully committed — replayed batch
    val rows = batch.persist()
    if (rows.count() == 0) inbox.amendCounters(Map("intake_batch" -> batchId))
    else inbox.append(rows, Map("intake_batch" -> batchId))
    rows.unpersist()
    // Reclaim drained batches so a long-lived inbox stays O(pending), not
    // O(everything-ever-posted): dirs committed at versions the wave loop
    // has already drained (frontier's intake_drained high-water, read-only
    // here — the intake stays the inbox's single writer) are dropped from
    // the live snapshot's dir list; expire() deletes the files once no
    // retained snapshot references them. An in-flight drain is pinned to
    // versions > drained, which this never touches.
    frontier.foreach { f =>
      val drained = f.currentSnapshot
        .flatMap(_.counters.get("intake_drained")).getOrElse(-1L)
      if (drained >= 0)
        inbox.dropDirsWhere(d => inbox.dirVersion(d) <= drained)
    }
    ()
  }

  final case class HostEvent(host: String, ts: Long)
  final case class HostState(nextAllowed: Long, fetched: Long, deferred: Long)
  final case class HostDecision(host: String, ts: Long, admitted: Boolean)

  /** Streaming politeness: per-host crawl-delay enforcement as custom
    * state — the streaming twin of the per-wave budget (P1). Events
    * arrive (host, virtual-ts); state tracks the next allowed fetch time;
    * an event before it is deferred. */
  def politenessDecide(crawlDelay: Long)(
      host: String, events: Iterator[HostEvent],
      state: GroupState[HostState]): Iterator[HostDecision] = {
    var st = state.getOption.getOrElse(HostState(0L, 0L, 0L))
    val out = events.toSeq.sortBy(_.ts).map { e =>
      if (e.ts >= st.nextAllowed) {
        st = HostState(e.ts + crawlDelay, st.fetched + 1, st.deferred)
        HostDecision(host, e.ts, admitted = true)
      } else {
        st = st.copy(deferred = st.deferred + 1)
        HostDecision(host, e.ts, admitted = false)
      }
    }
    state.update(st)
    out.iterator
  }

  /** Wire politenessDecide over a stream (used with memory sink in tests;
    * on a cluster this is the readStream→writeStream frontier intake). */
  def politenessStream(spark: SparkSession, events: DataFrame, crawlDelay: Long): DataFrame = {
    import spark.implicits._
    events.as[HostEvent]
      .groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        politenessDecide(crawlDelay))
      .toDF()
  }
}
