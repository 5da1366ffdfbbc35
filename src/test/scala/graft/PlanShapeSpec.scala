package graft

import graft.model.RobotsRule
import graft.operators.{Robots, RobotsTxt}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates: the scale claims in README/SURVEY §4, asserted on
  * actual physical plans so regressions surface as test failures. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("kernel plan has no single-partition exchange") {
    val frontier = BenchKernelRunner.frontierDf(spark, 10000, 4)
    // build the kernel's plan (un-executed) by reproducing its stages
    val (fetch, _) = graft.operators.Politeness.select(
      frontier, Robots.policy(BenchKernelRunner.benchRules, spark), 100, 4)
    val ranked = graft.operators.Ranker.orderIsomorphicId(
      fetch, Seq(col("depth"), col("parent_ord"), col("link_index")), "ord", 0L, 4)
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"single-partition exchange in kernel plan:\n${plan.take(3000)}")
  }

  test("robots compile constant-folds into the scan filter") {
    val rules = Seq(
      RobotsRule("a.com", "/", allow = true, 1),
      RobotsRule("a.com", "/private", allow = false, 1))
    import spark.implicits._
    val df = Seq(("a.com", "/private/x"), ("a.com", "/public"), ("b.com", "/private"))
      .toDF("host", "path")
      .filter(RobotsTxt.compileColumn(Robots.groups(rules), col("host"), col("path")))
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a.com", "/public"), ("b.com", "/private")))
    // the predicate is a pure expression tree — no join/aggregate nodes
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Aggregate"),
      s"robots compile should be a filter only:\n$plan")
  }

  test("Joined policy (packed rules) agrees with compile, longest prefix wins") {
    import spark.implicits._
    val rules = Seq(
      RobotsRule("a.com", "/", allow = true, 1),
      RobotsRule("a.com", "/private", allow = false, 1),
      RobotsRule("a.com", "/private/open", allow = true, 1), // longest wins
      RobotsRule("c.com", "/", allow = false, 1))
    val rows = Seq(
      ("a.com", "/private/x"), ("a.com", "/private/open/y"), ("a.com", "/"),
      ("b.com", "/anything"), ("c.com", "/z"))
    val df = rows.toDF("host", "path")
    val viaCompile = df.filter(RobotsTxt.compileColumn(Robots.groups(rules), col("host"), col("path")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val policy = RobotsTxt.JoinedTxt(RobotsTxt.packTxt(Robots.txtRows(rules.toDF())))
    val viaJoin = policy.withAllowed(df, col("path"), "__ok")
      .filter(col("__ok")).drop("__ok")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(viaCompile == viaJoin, s"compile=$viaCompile join=$viaJoin")
    assert(viaCompile == Set(
      ("a.com", "/private/open/y"), ("a.com", "/"), ("b.com", "/anything")))
  }

  test("politeness state joins above the host cutover have NO hardcoded broadcast") {
    import spark.implicits._
    // contended-host tag join + virtual-clock join: past the host
    // high-water cutover no broadcast is written into the plan — the last
    // O(state)-broadcast shapes (VERDICT r4 what's-wrong #1). At runtime
    // AQE may still broadcast a side that MEASURES small (that's by size,
    // not by construction), so the invariant is proven with size-based
    // broadcast disabled: any surviving BroadcastExchange would be the
    // hardcoded broadcast() call this test guards against.
    val frontier = BenchKernelRunner.frontierDf(spark, 5000, 4)
    val policy = Robots.policy(BenchKernelRunner.benchRules, spark)
    val clock = spark.range(0, 100)
      .select(concat(lit("h"), col("id"), lit(".example.org")).as("host"),
        col("id").as("next_ts"))
    val over = Robots.MaxBroadcastHosts + 1
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // case A: contended set MEASURES big (200k hosts, every one over a
      // budget of 1) — nothing may broadcast: not the clock state, not
      // the tag set
      val wide = spark.range(0, 400000)
        .select(concat(lit("w"), (col("id") / 2).cast("long"), lit(".example.org")).as("host"),
          col("id").as("url_hash"), lit(1).as("depth"),
          col("id").as("parent_ord"), lit(0).as("link_index"))
      val budgeter1 = graft.operators.Politeness.clockedBudgeter(
        policy, clock, wave = 0, ticksPerWave = 1, clockHosts = over)
      val (fetchA, deferA) = graft.operators.Politeness.selectWith(
        wide, budgeter1, hostsHint = over)
      val nA = fetchA.count() + deferA.count()
      assert(nA == 400000, s"politeness split lost rows: $nA")
      val planA = fetchA.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!planA.contains("BroadcastHashJoin") && !planA.contains("BroadcastExchange"),
        s"O(hosts) politeness state broadcast above the cutover:\n${planA.take(4000)}")
      assert(planA.contains("ShuffledHashJoin") || planA.contains("SortMergeJoin"),
        s"expected shuffled politeness state joins:\n${planA.take(4000)}")

      // case B: same above-cutover hint, but the contended set MEASURES
      // small (≤1001 hosts) — the measured cutover must broadcast it
      // (O(contended), never O(hosts)) so the frontier is not shuffled
      // for the tag join even with size-based broadcast off
      val budgeter2 = graft.operators.Politeness.clockedBudgeter(
        policy, clock, wave = 1, ticksPerWave = 4, clockHosts = over)
      val (fetchB0, deferB0) = graft.operators.Politeness.selectWith(
        frontier, budgeter2, hostsHint = over)
      val nB = fetchB0.count() + deferB0.count()
      assert(nB == 5000, s"politeness split lost rows: $nB")
      val planB0 = fetchB0.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(planB0.contains("BroadcastHashJoin"),
        s"measured-small contended set should broadcast:\n${planB0.take(4000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevA match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
    // below the cutover the small-state broadcast shape is kept with no
    // measuring job at all (the driver KNOWS the state is small)
    val (fetchC, _) = graft.operators.Politeness.selectWith(
      frontier, graft.operators.Politeness.clockedBudgeter(
        policy, clock, wave = 1, ticksPerWave = 4, clockHosts = 100),
      hostsHint = 100)
    fetchC.count()
    val planC = fetchC.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(planC.contains("BroadcastHashJoin"),
      s"small politeness state should broadcast:\n${planC.take(3000)}")
  }

  test("a4 IVF plan broadcasts both the centroid table and the query set") {
    val plan = graft.operators.AnnOps.ivfTopK(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // both small sides are hinted broadcast — the big vector table never
    // shuffles for the joins (only for the per-vector window)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"no broadcast in IVF plan:\n${plan.take(3000)}")
  }

  test("d5 near-dup self-join shuffles on the LSH bucket key, not all pairs") {
    val df = graft.operators.DedupOps.embeddingNearDup(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"all-pairs product in near-dup plan:\n${plan.take(3000)}")
  }

  test("seen anti-join exchanges ONLY the candidate side (bucket-aligned LSM)") {
    import spark.implicits._
    // force the big-data join path: at 10^10 the seen pieces are far past
    // any broadcast threshold (at test scale Spark would rightly broadcast
    // them, which ALSO exchanges zero candidate partitions — the property
    // under test is the non-broadcast regime)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val seen = new graft.plans.SeenState(spark, buckets = 4, compactAt = 8)
      seen.bootstrap(spark.range(0, 1000).select(xxhash64(col("id")).as("url_hash"),
        col("id").cast("string").as("url")))
      // two more pieces → a 3-join chain
      seen.addWave(spark.range(1000, 1200).select(xxhash64(col("id")).as("url_hash")))
      seen.addWave(spark.range(1200, 1400).select(xxhash64(col("id")).as("url_hash")))
      val cands = spark.range(500, 2000).select(xxhash64(col("id")).as("url_hash"))
      val out = seen.freshAndConfirmed(cands)
      out.collect() // force final (AQE) plan
      val full = out.queryExecution.executedPlan.toString
      val plan = full.split("== Initial Plan ==")(0) // final (executed) plan only
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"expected exactly 1 exchange (candidate side), got $exchanges:\n${plan.take(4000)}")
      // the piece side must arrive pre-sorted too (no per-join Sort)
      val sorts = "\\bSort \\[".r.findAllIn(plan).size
      assert(sorts == 1, s"expected 1 sort (candidate side), got $sorts:\n${plan.take(4000)}")
      // correctness of the chain itself
      val got = out.collect().map(_.getLong(0)).toSet
      val byId = spark.range(0, 2000)
        .select(col("id"), xxhash64(col("id")).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = (1400L until 2000L).map(byId).toSet
      assert(got == want)
      seen.close()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("joined robots above the cutover has NO O(rules) broadcast in the plan") {
    import spark.implicits._
    val rules = (0 until 300).map(h =>
      RobotsRule(s"h$h.com", if (h % 4 == 3) "/p/1" else "/", allow = h % 4 != 3, 1))
    val packed = RobotsTxt.packTxt(Robots.txtRows(rules.toDF())).persist()
    try {
      // hosts declared past MaxBroadcastHosts → the shuffle-hash strategy
      // (the table is small here; the PLAN SHAPE is what's under test)
      val policy = RobotsTxt.JoinedTxt(packed, Robots.MaxBroadcastHosts + 1)
      val df = spark.range(0, 5000)
        .select(concat(lit("h"), pmod(col("id"), lit(400)), lit(".com")).as("host"),
          concat(lit("/p/"), pmod(col("id"), lit(7))).as("path"))
      val out = policy.withAllowed(df, col("path"), "ok")
      out.collect() // force the final AQE plan
      val full = out.queryExecution.executedPlan.toString
      val plan = full.split("== Initial Plan ==")(0)
      assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
        s"rules broadcast above the cutover:\n${plan.take(3000)}")
      assert(plan.contains("ShuffledHashJoin"),
        s"expected shuffle-hash rules join:\n${plan.take(3000)}")
      // and decisions are right: h3.com blocks /p/1*, everything else open
      val blocked = out.filter(!col("ok")).select("host").distinct()
        .collect().map(_.getString(0)).toSet
      assert(blocked.nonEmpty && blocked.forall(h =>
        h.stripPrefix("h").stripSuffix(".com").toInt % 4 == 3))
    } finally { packed.unpersist(); () }
  }

  test("politeness budget via Joined policy matches Compiled policy") {
    import spark.implicits._
    val rules = (0 until 200).map(h =>
      graft.model.RobotsRule(s"h$h.com", "/", allow = true, crawl_delay = 1 + h % 4))
    val frontier = spark.range(0, 2000)
      .select(concat(lit("http://h"), pmod(col("id"), lit(300)), lit(".com/p/"), col("id"))
          .as("url"),
        xxhash64(col("id")).as("url_hash"),
        concat(lit("h"), pmod(col("id"), lit(300)), lit(".com")).as("host"),
        lit(1).as("depth"), col("id").as("parent_ord"), lit(0).as("link_index"))
    val compiled = RobotsTxt.CompiledTxt(Robots.groups(rules))
    val joined = RobotsTxt.JoinedTxt(RobotsTxt.packTxt(Robots.txtRows(rules.toDF())))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0))).toSet
    val (fc, dc) = graft.operators.Politeness.select(frontier, compiled, 8, 4)
    val (fj, dj) = graft.operators.Politeness.select(frontier, joined, 8, 4)
    assert(key(fc) == key(fj) && key(dc) == key(dj))
  }

  test("fetch join broadcasts the small frontier side when hinted") {
    import spark.implicits._
    val docs = (0 until 1000).map(i => (s"http://h/$i", i)).toDF("doc_id", "x")
    val frontier = Seq("http://h/1", "http://h/2").toDF("url")
    val joined = docs.join(broadcast(frontier), docs("doc_id") === frontier("url"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("fetch join broadcasts the cached fetch set unhinted and never exchanges the corpus") {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    // a corpus whose size estimate is above the broadcast threshold
    val docs = spark.range(0, 1000000, 1, 4)
      .select(concat(lit("http://h/"), col("id").cast("string")).as("doc_id"),
        col("id").as("body"))
    assert(docs.queryExecution.optimizedPlan.stats.sizeInBytes > threshold)
    // the fetch set as the wave builds it: a few rows picked out of a plan
    // whose estimate is far above the threshold, then cached and counted,
    // so only the materialized size stat can make it the build side
    val fetchSet = spark.range(0, 4000000, 1, 4)
      .filter(pmod(col("id"), lit(1000L)) === 7L)
      .select(concat(lit("http://h/"), col("id").cast("string")).as("url"),
        col("id").as("ord"))
      .persist()
    try {
      assert(fetchSet.queryExecution.optimizedPlan.stats.sizeInBytes > threshold)
      val nFetch = fetchSet.count()
      val hits = graft.plans.CrawlJob.fetchHits(docs, fetchSet)
      assert(hits.collect().length == 1000 && nFetch == 4000L)
      // the executed (final adaptive) plan, query stages included
      val plan = hits.queryExecution.executedPlan
      val stages = new AdaptiveSparkPlanHelper {}
      val joins = stages.collect(plan) { case j: BroadcastHashJoinExec => j }
      assert(joins.size == 1, s"expected one broadcast hash join:\n$plan")
      val j = joins.head
      val (build, stream) =
        if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
      def cached(p: SparkPlan) = stages.collect(p) { case s: InMemoryTableScanExec => s }
      assert(cached(build).nonEmpty && cached(stream).isEmpty,
        s"build side is not the cached fetch set:\n$plan")
      assert(stages.collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty,
        s"the corpus is exchanged:\n$plan")
    } finally fetchSet.unpersist()
  }
}
