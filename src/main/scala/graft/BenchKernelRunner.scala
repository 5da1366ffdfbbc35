package graft

import graft.model.RobotsRule
import graft.operators.FrontierKernel
import graft.plans.SeenState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic-frontier generator + one timed schedule+dedup kernel pass
  * (shared by [[Bench]] and [[KernelBench]]).
  *
  * Frontier shape mirrors the 10^10 design point scaled down: 30% of URLs
  * on one hot host (skew), the rest across 1000 hosts; the pre-seeded
  * seen set overlaps 25% of the frontier (dedup hits) and can be grown
  * to many times the frontier (`seenFactor`) to prove the bucketed seen
  * state has no throughput cliff when seen ≫ frontier; robots rules
  * block a subtree on every 4th host.
  */
object BenchKernelRunner {

  private val NHosts = 1000

  def frontierDf(spark: SparkSession, n: Long, parts: Int): DataFrame = {
    val hostId = when(pmod(col("id"), lit(10)) < 3, lit(0))
      .otherwise(pmod(col("id"), lit(NHosts)) + 1)
    spark.range(0, n, 1, parts)
      .withColumn("host", concat(lit("h"), hostId, lit(".example.org")))
      .withColumn("url", concat(lit("http://"), col("host"), lit("/p/"), col("id")))
      .withColumn("url_hash", xxhash64(col("url")))
      .withColumn("depth", lit(1))
      .withColumn("parent_ord", col("id"))
      .withColumn("link_index", lit(0))
      .drop("id")
  }

  /** Seen hashes: n/4 overlapping the frontier (25% dedup hits), plus
    * disjoint filler up to `seenFactor × n` total (seen ≫ frontier is the
    * 10^10 regime: a mature crawl's seen set dwarfs any one wave). */
  def seenDf(spark: SparkSession, n: Long, parts: Int,
      seenFactor: Double = 0.25): DataFrame = {
    val overlap = frontierDf(spark, n / 4, parts).select("url_hash")
    val extra = math.max(0L, (n * seenFactor).toLong - n / 4)
    if (extra == 0L) overlap
    else overlap.unionByName(
      spark.range(n, n + extra, 1, parts)
        .select(xxhash64(concat(lit("http://hx.example.org/q/"), col("id")))
          .as("url_hash")))
  }

  def benchRules: Seq[RobotsRule] =
    (0 until 16).map { h =>
      RobotsRule(s"h$h.example.org", if (h % 4 == 3) "/p/1" else "/",
        allow = h % 4 != 3, crawl_delay = if (h == 0) 2 else 1)
    }

  /** The same rule shape generated DISTRIBUTED — at 10^6+ ruled hosts the
    * driver never holds a rule; `Robots.policyFromDf` packs per-host rows
    * executor-side and (past [[graft.operators.Robots.MaxBroadcastHosts]])
    * the kernel joins them by shuffle, not broadcast. */
  def benchRulesDf(spark: SparkSession, nHosts: Int): DataFrame =
    spark.range(0, nHosts.toLong, 1, math.max(1, nHosts / 250000))
      .select(
        concat(lit("h"), col("id"), lit(".example.org")).as("host"),
        when(pmod(col("id"), lit(4)) === 3, lit("/p/1")).otherwise(lit("/"))
          .as("path_prefix"),
        (pmod(col("id"), lit(4)) =!= 3).as("allow"),
        when(col("id") === 0, lit(2)).otherwise(lit(1)).as("crawl_delay"))

  /** Virtual-clock politeness pass at a given clock-table size — the
    * mature-crawl regime where the clock (one next_ts row per host EVER
    * fetched) dwarfs the wave's own hosts. `hint` past
    * [[graft.operators.Robots.MaxBroadcastHosts]] drives the shuffle-hash
    * state joins (round-5 cutover); a small hint keeps the broadcast
    * shape — the pair measures what the no-O(hosts)-broadcast shape
    * costs. ticksPerWave is large so every host is under budget: the
    * timed work is the state-join machinery itself, not the cutoffs. */
  def runClocked(spark: SparkSession, n: Long, cpus: Int, clockHosts: Long,
      hint: Long): (Double, Long) = {
    val parts = cpus * 2
    val frontier = frontierDf(spark, n, parts).persist()
    frontier.count()
    val clock = spark.range(0, clockHosts, 1, parts)
      .select(concat(lit("h"), col("id"), lit(".example.org")).as("host"),
        pmod(col("id"), lit(3)).as("next_ts"))
      .persist()
    clock.count()
    val policy = graft.operators.Robots.policy(benchRules, spark)
    val t0 = System.nanoTime()
    val budgeter = graft.operators.Politeness.clockedBudgeter(
      policy, clock, wave = 0, ticksPerWave = 1 << 26, clockHosts = hint)
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (fetch, defer) = graft.operators.Politeness.selectWith(
      frontier, budgeter, hostsHint = hint,
      frontierHint = n, hold = df => { held += df; df.persist() })
    val urls = fetch.count() + defer.count()
    val wall = (System.nanoTime() - t0) / 1e9
    frontier.unpersist(blocking = true) // rep hygiene, outside the timed region
    clock.unpersist(blocking = true)
    held.foreach(_.unpersist(blocking = true))
    (wall, urls)
  }

  /** One kernel pass; returns (wallSec, urlsProcessed = scheduled+deduped).
    * Inputs AND the seen-state bootstrap (bucket pieces) are
    * materialized outside the clock — they are amortized crawl state.
    * `ruledHosts` > 64 routes politeness + robots through the
    * size-adaptive JOINED policy instead of the compiled chain. */
  def run(spark: SparkSession, n: Long, cpus: Int,
      seenFactor: Double = 0.25, ruledHosts: Int = 16): (Double, Long) = {
    val parts = cpus * 2
    val frontier = frontierDf(spark, n, parts).persist()
    frontier.count()
    val seenHashes = seenDf(spark, n, parts, seenFactor)
    val seen = new SeenState(spark, buckets = parts, compactAt = 8)
    seen.bootstrap(seenHashes)
    val policy =
      if (ruledHosts == 16) graft.operators.Robots.policy(benchRules, spark)
      else graft.operators.Robots.policyFromDf(benchRulesDf(spark, ruledHosts))
    val t0 = System.nanoTime()
    val r = FrontierKernel.scheduleDedup(spark, frontier, n, seen, policy,
      hostBudget = Int.MaxValue / 4, saltBuckets = cpus * 2,
      numPartitions = parts)
    val wall = (System.nanoTime() - t0) / 1e9
    // rep hygiene, OUTSIDE the timed region: blocking frees so a rep's
    // multi-GB caches are actually gone before the next rep allocates
    // (async frees still draining made later reps bimodal)
    frontier.unpersist(blocking = true)
    seen.close()
    policy.release() // rep hygiene: a leaked packed cache degrades later reps
    (wall, r.scheduled + r.newUrls + r.dedupHits)
  }
}
