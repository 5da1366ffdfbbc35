package graft.operators

import graft.model.RobotsRule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The robots face of the wave loop (north_rule; reference analog:
  * colly's temoto/robotstxt integration, go.mod:22, active because
  * IgnoreRobotsTxt defaults to false at crawler.go:76).
  *
  * One decision rule, RFC 9309 §2.2.2: the longest matching pattern wins,
  * allow wins length ties, no match → allowed. One implementation of it,
  * [[RobotsTxt]], in two physical forms behind one [[RobotsPolicy]] face,
  * selected by ruled-host count:
  *
  *  - **compiled** ([[RobotsTxt.CompiledTxt]], ≤ [[MaxCompileHosts]]
  *    hosts): a constant-folded `when`-chain that stays inside whole-stage
  *    codegen — zero join, zero shuffle. Past ~64 hosts the chain blows
  *    the 64 KB JVM method limit (codegen falls back to interpreted) and
  *    plan construction itself becomes O(hosts) per wave, so it is capped.
  *  - **packed** ([[RobotsTxt.JoinedTxt]], any size): one row per host
  *    joined on `host` alone — broadcast up to [[MaxBroadcastHosts]]
  *    packed rows, shuffle-hash on host above (at 10^7 ruled hosts a
  *    broadcast would put the whole ~1–2 GB packed table resident on
  *    every executor and re-ship it each wave).
  *
  * Prefix rows ([[RobotsRule]]) are robots.txt rules whose pattern is
  * `path_prefix`; a host's group delay is the max of its rows'
  * `crawl_delay`. [[policy]] and [[policyFromDf]] are thin adapters onto
  * the robots.txt forms.
  */
object Robots {

  /** Packed-rules hosts above this join by shuffle, not broadcast.
    * 2^16 hosts ≈ 10 MB packed (≈150 B/host row) — Spark's own default
    * autoBroadcastJoinThreshold, i.e. the size at which Spark itself
    * stops choosing broadcast. */
  val MaxBroadcastHosts: Long = 1L << 16

  /** Distinct ruled hosts up to which rules compile to the codegen'd
    * `when`-chain; above it they take the packed-rules join. */
  val MaxCompileHosts: Int = 64

  /** One face over the physical robots/budget forms; attach-once column
    * builders so a wave evaluates each decision exactly once. */
  trait RobotsPolicy extends Serializable {
    /** df + boolean column `out`: the robots decision over
      * (df("host"), path). */
    def withAllowed(df: DataFrame, path: Column, out: String): DataFrame
    /** df + int column `out`: per-host politeness budget
      * max(1, hostBudget / max(1, crawl_delay)). */
    def withBudget(df: DataFrame, hostBudget: Int, out: String): DataFrame
    /** df + long column `out`: effective per-host crawl_delay in virtual
      * ticks — max(1, crawl_delay); hosts without a rule get 1. Feeds the
      * cross-wave virtual-clock schedule (Politeness.clockedBudgeter). */
    def withDelay(df: DataFrame, out: String): DataFrame
    /** Free what the policy cached (a packed rules table); the policy
      * must not be used after. */
    def release(): Unit = ()
  }

  /** Prefix rows as per-host robots.txt groups. */
  def groups(rules: Seq[RobotsRule]): Map[String, RobotsTxt.Group] =
    rules.groupBy(_.host).map { case (h, rs) =>
      h -> RobotsTxt.Group(rs.map(r => RobotsTxt.TxtRule(r.path_prefix, r.allow)),
        Some(rs.map(_.crawl_delay).max))
    }

  /** A (host, path_prefix, allow, crawl_delay) table as the exploded
    * (host, pattern, allow, delay) rows [[RobotsTxt.packTxt]] packs. */
  def txtRows(rulesDf: DataFrame): DataFrame =
    rulesDf.select(col("host"), col("path_prefix").as("pattern"), col("allow"),
      col("crawl_delay").as("delay"))

  /** Size-based cutover from a driver-resident rule Seq; runs no Spark
    * job at or below [[MaxCompileHosts]] hosts. */
  def policy(rules: Seq[RobotsRule], spark: SparkSession): RobotsPolicy = {
    import spark.implicits._
    val byHost = groups(rules)
    RobotsTxt.cutover(byHost.size, byHost, txtRows(rules.toDF()))
  }

  /** Size-based cutover from a rules DataFrame — the large-table entry
    * point: the driver never collects the raw rules above the threshold
    * (only the per-host packed rows travel). */
  def policyFromDf(rulesDf: DataFrame): RobotsPolicy =
    RobotsTxt.policyFromRows(txtRows(rulesDf))
}
