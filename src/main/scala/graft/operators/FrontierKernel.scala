package graft.operators

import graft.plans.SeenState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale-dominant kernel of the crawl engine, factored out so it can
  * be benchmarked at 10^7..10^10-row frontier scale independent of the
  * wave loop's sink writes: one politeness-schedule + dedup pass over a
  * frontier (exactly what the BASELINE metric "frontier URLs
  * scheduled+deduped/sec" measures).
  *
  * Pipeline = the same stages [[graft.plans.CrawlJob]] runs per wave:
  *  1. politeness as one per-host cutoff (a bounded top-k aggregate, so
  *     a hot host ships at most budget × map tasks keys, never its rows);
  *  2. order-isomorphic visit-id assignment (no global window);
  *  3. exact dedup against the bucketed seen state
  *     ([[SeenState]] — candidate-only exchange, piece anti-join chain);
  *  4. robots predicate filter.
  */
object FrontierKernel {

  final case class KernelResult(
      scheduled: Long, deferred: Long, newUrls: Long, dedupHits: Long,
      robotsBlocked: Long)

  private val priorityKeys = Seq(col("depth"), col("parent_ord"), col("link_index"))
  private val obsCounter = new java.util.concurrent.atomic.AtomicLong()

  /** One schedule+dedup pass.
    * frontier: (url, url_hash, host, depth, parent_ord, link_index)
    * seen:     the production bucketed seen state (bootstrap it outside
    *           the clock — it is amortized crawl state, not wave work).
    * policy:   the size-adaptive robots policy, so the benched path IS
    *           what a 10^7-ruled-host regime runs (broadcast packed-rules
    *           join), not only the small-host compiled chain.
    * `saltBuckets` has no effect: the benchmark (`crawlbench`) still
    * passes it.
    * Returns counters; the pipeline terminates in a noop-format write so
    * every stage actually executes. */
  def scheduleDedup(spark: SparkSession, frontier: DataFrame, frontierTotal: Long,
      seen: SeenState, policy: Robots.RobotsPolicy, hostBudget: Int, saltBuckets: Int,
      numPartitions: Int): KernelResult = {
    import org.apache.spark.sql.Observation

    // 1. politeness (contended-host split + per-host cutoffs; the
    // frontier total rides along so a large frontier with an empty
    // contended set skips the cutoff branch's full scan). A measured
    // contended-host set is cached through `hold` and freed with the
    // fetch set.
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (fetchSet0, _) = Politeness.select(frontier, policy, hostBudget,
      frontierHint = frontierTotal, hold = df => { held += df; df.persist() })

    // 2. visit ids (persisted: counted here, then deduped)
    val fetchSet = Ranker.orderIsomorphicId(fetchSet0, priorityKeys, "ord",
      1L << 50, numPartitions).persist()
    val scheduled = fetchSet.count()

    // 3. dedup: one candidate exchange into the seen bucket partitioning,
    // then the exact left-anti chain; the seen pieces never re-shuffle
    // (SeenState.freshAndConfirmed)
    val newUrls = seen.freshAndConfirmed(fetchSet)

    // 4. robots through the same size-adaptive policy face
    val path = coalesce(nullif(parse_url(col("url"), lit("PATH")), lit("")), lit("/"))

    val obs = Observation(s"kernel-${obsCounter.incrementAndGet()}")
    val admitted = policy.withAllowed(newUrls, path, "__allowed")
      .observe(obs,
        count(lit(1)).as("new"),
        sum(when(col("__allowed"), 1L).otherwise(0L)).as("adm"))
      .filter(col("__allowed"))
      .drop("__allowed")
    admitted.write.format("noop").mode("overwrite").save()

    val nNew = obs.get("new").asInstanceOf[Long]
    val nAdm = Option(obs.get("adm")).map(_.asInstanceOf[Long]).getOrElse(0L)
    fetchSet.unpersist()
    held.foreach(_.unpersist())
    KernelResult(scheduled, frontierTotal - scheduled, nNew, scheduled - nNew, nNew - nAdm)
  }
}
