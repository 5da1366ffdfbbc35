package crawlbench

import crawlbench.Main.{Ctx, Metric, Outcome}
import graft.model.RobotsRule
import graft.operators.FrontierKernel.KernelResult
import graft.operators.{FrontierKernel, Politeness, Ranker, Robots}
import graft.oracle.CrawlOracle
import graft.plans.SeenState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** kernel_mature: repeated `FrontierKernel.scheduleDedup` passes over one
  * bootstrapped `SeenState` ten times the frontier. 30% of the frontier
  * sits on one hot host whose budget it exceeds; the other 1,000 hosts stay
  * under budget. No IceLite, no wave loop: the pure data path. */
object KernelWorkload {

  val FrontierRows = 100000L
  val SeenFactor = 10L
  val Hosts = 1000
  // ~70 rows per ordinary host stay under budget; the hot host's 30k rows
  // (crawl delay 2, so a budget of 512) are contended
  val HostBudget = 1024
  val SetupReps = 3
  val WarmupPasses = 3

  /** (frontier, rows of it that are already seen) from the seed. */
  def frontier(spark: SparkSession, seed: Long, n: Long, parts: Int): (DataFrame, DataFrame) = {
    val r = col("__r")
    val base = spark.range(0, n, 1, parts)
      .withColumn("__r", xxhash64(col("id"), lit(seed)))
      .withColumn("host", concat(lit("h"),
        when(pmod(r, lit(10L)) < 3, lit(0L)).otherwise(pmod(shiftright(r, 8), lit(Hosts.toLong)) + 1),
        lit(".example.org")))
      .withColumn("url", concat(lit("http://"), col("host"), lit("/p/"), col("id")))
      .withColumn("url_hash", xxhash64(col("url")))
      .withColumn("depth", pmod(shiftright(r, 20), lit(4L)).cast("int"))
      .withColumn("parent_ord", shiftrightunsigned(r, 1))
      .withColumn("link_index", pmod(shiftright(r, 24), lit(32L)).cast("int"))
    val cols = Seq("url", "url_hash", "host", "depth", "parent_ord", "link_index").map(col)
    (base.select(cols: _*), base.filter(pmod(shiftright(r, 40), lit(4L)) === 0).select(cols: _*))
  }

  /** Seen hashes: a quarter of the frontier plus filler, 10× the frontier. */
  def seenHashes(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    val overlap = frontier(spark, seed, n, parts)._2.select("url_hash")
    overlap.unionByName(spark.range(0, SeenFactor * n - n / 4, 1, parts)
      .select(xxhash64(concat(lit("http://seen.example.net/q/"), col("id")), lit(seed))
        .as("url_hash")))
  }

  /** 16 ruled hosts: the hot host has crawl delay 2, every fourth host
    * disallows the /p/1 subtree. */
  val rules: Seq[RobotsRule] = (0 until 16).map { h =>
    RobotsRule(s"h$h.example.org", if (h % 4 == 3) "/p/1" else "/",
      allow = h % 4 != 3, crawl_delay = if (h == 0) 2 else 1)
  }

  /** Driver-side reference over the collected inputs, sharing no operator
    * with the engine: per host, the first `budget` rows in priority order
    * (`CrawlOracle.budgetOf`), minus the seen hashes, then the oracle's
    * robots predicate. */
  def reference(front: DataFrame, seen: DataFrame, n: Long): KernelResult = {
    val rows = front.select("url", "url_hash", "host", "depth", "parent_ord", "link_index")
      .collect()
    val seenHashes = seen.collect().map(_.getLong(0)).sorted
    val scheduled = rows.groupBy(_.getString(2)).toSeq.flatMap { case (host, rs) =>
      rs.sortBy(r => (r.getInt(3), r.getLong(4), r.getInt(5)))
        .take(CrawlOracle.budgetOf(rules, host, HostBudget))
    }
    val fresh = scheduled.filter(r => java.util.Arrays.binarySearch(seenHashes, r.getLong(1)) < 0)
    val blocked = fresh.count(r => !CrawlOracle.robotsAllowed(rules, r.getString(0)))
    KernelResult(scheduled.size, n - scheduled.size, fresh.size,
      scheduled.size - fresh.size, blocked)
  }

  private final case class Inputs(front: DataFrame, seen: SeenState, policy: Robots.RobotsPolicy,
      stateBytes: Long)

  private final case class Pass(startMs: Double, endMs: Double, result: KernelResult,
      counts: Snap, before: Snap, heldBytes: Long, stages: Seq[(String, Double)],
      probePass: Long) {
    def wallS: Double = (endMs - startMs) / 1000
  }

  private val path = coalesce(nullif(parse_url(col("url"), lit("PATH")), lit("")), lit("/"))

  /** One untraced pass: the kernel's own entry point. */
  private def pass(ctx: Ctx, in: Inputs): Pass = {
    val before = ctx.counts.snap(ctx.spark)
    val held0 = Storage.heldBytes(ctx.spark)
    val t0 = Clock.nowMs
    val r = FrontierKernel.scheduleDedup(ctx.spark, in.front, FrontierRows, in.seen, in.policy,
      HostBudget, ctx.cpus * 2, ctx.cpus * 2)
    val t1 = Clock.nowMs
    val after = ctx.counts.snap(ctx.spark)
    Main.progress(f"kernel pass in ${(t1 - t0) / 1000}%.2f s")
    Pass(t0, t1, r, after.minus(before), before, Storage.heldBytes(ctx.spark) - held0, Nil, 0L)
  }

  /** One traced pass: the kernel's stages called one public entry point at
    * a time, each materialized, with a span around each call. */
  private def tracedPass(ctx: Ctx, in: Inputs, s: Spans): Pass = {
    val before = ctx.counts.snap(ctx.spark)
    val held0 = Storage.heldBytes(ctx.spark)
    val spans = ArrayBuffer.empty[(String, Double, Double)]
    def timed[T](name: String)(f: => T): T = {
      val a = Clock.nowMs
      val v = f
      spans += ((name, a, Clock.nowMs))
      v
    }
    val t0 = Clock.nowMs
    val fetch0 = timed("politeness.select") {
      val f = Politeness.select(in.front, in.policy, HostBudget, ctx.cpus * 2,
        frontierHint = FrontierRows)._1.persist()
      f.count()
      f
    }
    val (fetch, scheduled) = timed("ranker.order_id") {
      val f = Ranker.orderIsomorphicId(fetch0, Politeness.priorityKeys, "ord", 1L << 50,
        ctx.cpus * 2).persist()
      (f, f.count())
    }
    val probePass = timed("seenstate.probe") {
      fetch.filter(in.seen.probe(col("url_hash"))).count()
    }
    val (fresh, nNew) = timed("seenstate.dedup") {
      val f = in.seen.freshAndConfirmed(fetch, scheduled).persist()
      (f, f.count())
    }
    val nAdm = timed("robots.allowed") {
      in.policy.withAllowed(fresh, path, "__allowed").filter(col("__allowed")).count()
    }
    val t1 = Clock.nowMs
    Seq(fetch0, fetch, fresh).foreach(_.unpersist(blocking = true))
    val after = ctx.counts.snap(ctx.spark)
    val root = s.add("kernel.pass", t0, t1, -1)
    val ids = spans.map { case (n, a, b) => s.add(n, a, b, root) }
    s.attachJobs(ctx.counts.jobsSince(before), root +: ids.toSeq)
    Pass(t0, t1,
      KernelResult(scheduled, FrontierRows - scheduled, nNew, scheduled - nNew, nNew - nAdm),
      after.minus(before), before, Storage.heldBytes(ctx.spark) - held0,
      spans.map { case (n, a, b) => n -> (b - a) / 1000 }.toSeq, probePass)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val a = ctx.args
    val parts = ctx.cpus * 2
    val errors = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val want = reference(frontier(spark, a.seed, FrontierRows, parts)._1,
      seenHashes(spark, a.seed, FrontierRows, parts), FrontierRows)
    Main.progress(s"reference $want")
    def checked(p: Pass): Unit = {
      attempted += 1
      if (p.result != want) {
        failed += 1
        errors += s"kernel pass ${p.result} != reference $want"
      }
    }

    // set-up, repeated: generate + cache the frontier, bootstrap the seen
    // state from the generated hashes
    var in: Inputs = null
    val setupS = (1 to SetupReps).map { _ =>
      if (in != null) { in.seen.close(); in.front.unpersist(blocking = true) }
      val t0 = Clock.nowMs
      val front = frontier(spark, a.seed, FrontierRows, parts)._1.persist()
      front.count()
      val held0 = Storage.heldBytes(spark)
      val seen = new SeenState(spark, buckets = parts, useCuckoo = false,
        expectedItems = SeenFactor * FrontierRows, fpp = 0.01, compactAt = 8)
      val tb = Clock.nowMs
      seen.bootstrap(seenHashes(spark, a.seed, FrontierRows, parts))
      val bootstrapS = (Clock.nowMs - tb) / 1000
      Main.progress(f"seen bootstrap in $bootstrapS%.2f s")
      in = Inputs(front, seen, Robots.policy(rules, spark), Storage.heldBytes(spark) - held0)
      ((Clock.nowMs - t0) / 1000, bootstrapS)
    }
    val warm0 = Clock.nowMs
    (1 to WarmupPasses).foreach(_ => checked(pass(ctx, in)))
    val warmupS = (Clock.nowMs - warm0) / 1000

    def window(seconds: Double, one: () => Pass): Seq[Pass] = {
      val out = ArrayBuffer.empty[Pass]
      val w0 = Clock.nowMs
      while (out.isEmpty || Clock.nowMs - w0 < seconds * 1000) out += one()
      out.toSeq
    }
    val spans = if (a.trace) Some(new Spans) else None
    val plain = window(if (a.trace) a.seconds / 2.0 else a.seconds.toDouble, () => pass(ctx, in))
    val traced = spans.map(s => window(a.seconds / 2.0, () => tracedPass(ctx, in, s)))
      .getOrElse(Nil)
    (plain ++ traced).foreach(checked)
    val pieces = in.seen.pieceCount
    in.seen.close()
    in.front.unpersist(blocking = true)

    def rate(ps: Seq[Pass]): Double = ps.size * FrontierRows / ps.map(_.wallS).sum
    val wall = plain.map(_.wallS).sum
    val (busyUnion, busySum) = plain.map(p => ctx.counts.taskTime(p.before, p.startMs, p.endMs))
      .foldLeft((0.0, 0.0)) { case ((u, s), (u2, s2)) => (u + u2, s + s2) }
    val c = plain.map(_.counts)
    val np = plain.size.toDouble
    val passP50 = Stats.median(plain.map(_.wallS))
    val setup = ctx.sessionS + Stats.median(setupS.map(_._1)) + warmupS
    val m = Map(
      "setup_s" -> setup,
      "urls_per_s" -> rate(plain),
      "wave_p50_s" -> passP50,
      "state_mb" -> in.stateBytes / 1e6,
      "spark.jobs_per_wave" -> c.map(_.jobs).sum / np,
      "spark.stages_per_wave" -> c.map(_.stages).sum / np,
      "spark.tasks_per_wave" -> c.map(_.tasks).sum / np,
      "spark.shuffle_write_mb" -> c.map(_.shuffleWrite).sum / 1e6 / np,
      "spark.shuffle_read_mb" -> c.map(_.shuffleRead).sum / 1e6 / np,
      "spark.spill_mb" -> c.map(_.spill).sum / 1e6 / np,
      "spark.busy_share" -> busySum / (wall * 1000 * ctx.cpus),
      "spark.idle_share" -> (1 - busyUnion / (wall * 1000)),
      "spark.held_storage_mb" -> plain.map(_.heldBytes).max / 1e6,
      "seenstate.bootstrap_s" -> Stats.median(setupS.map(_._2)),
      "icelite.commits_per_wave" -> 0.0,
      "icelite.files" -> 0.0)
    val endToEnd = Main.EndToEnd.map { case (n, u) => Metric(n, m(n), u) }
    val perLayer = Main.PerLayer.map { case (n, u) => Metric(n, m(n), u) }

    val traceReport = spans.map { s =>
      val stageTotals = traced.flatMap(_.stages).groupMapReduce(_._1)(_._2)(_ + _).toSeq
        .sortBy(_._1).map { case (n, v) => s"${n}_s" -> Json.num(v / traced.size) }
      val candidates = traced.map(_.result.scheduled).sum.toDouble
      Seq("per_layer" -> Json.obj(perLayer.map(m => m.name -> Json.num(m.value)) ++ stageTotals ++
          Seq("seenstate.prefilter_pass_ratio" -> Json.num(traced.map(_.probePass).sum / candidates),
            "seenstate.true_dup_share" -> Json.num(traced.map(_.result.dedupHits).sum / candidates),
            "seenstate.pieces" -> pieces.toString)),
        "self_s" -> Json.obj(s.selfSeconds.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "overhead" -> Json.obj(Seq(
          "urls_per_s" -> Json.num(rate(traced) - rate(plain)),
          "wave_p50_s" -> Json.num(Stats.median(traced.map(_.wallS)) - passP50),
          "traced_passes" -> traced.size.toString)))
    }.getOrElse(Nil)
    val samples = plain.map(_.wallS)
    val report = Seq(
      "setup_reps_s" -> setupS.map(r => Json.num(r._1)).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmupS),
      "setup_s" -> Json.num(setup),
      "frontier_rows" -> FrontierRows.toString,
      "seen_hashes" -> (SeenFactor * FrontierRows).toString,
      "reference" -> Json.str(want.toString),
      "passes" -> plain.size.toString,
      "urls_per_s" -> Json.num(m("urls_per_s")),
      "wave_p50_s" -> Json.num(passP50),
      "wave_samples" -> Json.obj(Seq("n" -> samples.size.toString,
        "values" -> samples.map(Json.num).mkString("[", ",", "]")))) ++
      Stats.tail(samples).map { case (q, v) => s"wave_${q}_s" -> Json.num(v) }.toSeq ++ Seq(
      "state_mb" -> Json.num(m("state_mb")),
      "held_storage_mb" -> Json.num(m("spark.held_storage_mb")),
      "failed_ratio" -> Json.num(failed.toDouble / attempted),
      "counts" -> Json.obj(m.toSeq.filter(_._1.startsWith("spark.")).sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) })) ++ traceReport
    Outcome(attempted, failed, errors.toSeq, endToEnd, perLayer, report, spans)
  }
}
