package graft

import org.apache.spark.sql.SparkSession

/** Real multi-executor scaling evidence for the north rule's N → 4N
  * criterion: runs the schedule+dedup kernel under Spark's
  * `local-cluster[execs,cores,memMB]` master, which launches each
  * executor as a SEPARATE JVM process (Spark's own standalone-mode test
  * harness) — unlike `local[k]`, shuffle blocks move between processes
  * over the block-transfer service and every task closure and broadcast
  * crosses a real process boundary.
  *
  * Levels: N executors and 4N executors, SAME per-executor shape
  * (cores, memory), same input rows, INTERLEAVED per rep (low, high,
  * low, high … each pair adjacent in time — round-6 protocol; the old
  * all-low-then-all-high block confounded slow window drift with
  * executor count). Both levels are multi-executor so both pay
  * cross-executor shuffle; the variable is executor count alone.
  *
  * Run via spark-submit so executors fetch the app jar:
  * {{{
  * sbt package
  * /opt/spark/bin/spark-submit --class graft.ClusterScale \
  *   --driver-memory 8g target/scala-2.13/elasticwebcrawlerspark_2.13-0.1.0.jar \
  *   64000000 3 2 4 5120
  * }}}
  * args: nRows reps lowExecs coresPerExec memMB (high level = 4×lowExecs).
  * Prints one JSON line: per-rep rates at both levels, best-of rates,
  * and efficiency = (rate4N / rateN) / 4.
  */
object ClusterScale {

  private def session(execs: Int, cores: Int, memMb: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local-cluster[$execs,$cores,$memMb]")
      .appName(s"graft-cluster-scale-$execs")
      .config("spark.executor.memory", s"${memMb}m")
      .config("spark.sql.shuffle.partitions", (execs * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Returns (per-rep rates, registered executor count). Fails fast if
    * the executor JVMs don't all register within the deadline — an
    * under-provisioned level silently corrupts the N-vs-4N comparison
    * (round-4 advice), so an invalid level is an error, not a number. */
  private def level(execs: Int, cores: Int, memMb: Int, n: Long,
      reps: Int): (Seq[Double], Int) = {
    val spark = session(execs, cores, memMb)
    try {
      val deadline = System.nanoTime() + 120e9.toLong
      while (spark.sparkContext.getExecutorMemoryStatus.size - 1 < execs &&
        System.nanoTime() < deadline) Thread.sleep(500)
      val registered = spark.sparkContext.getExecutorMemoryStatus.size - 1
      require(registered >= execs,
        s"only $registered/$execs executors registered within 120s — " +
          "level would run under-provisioned; aborting instead of emitting " +
          "an uncontrolled comparison")
      val totalCores = execs * cores
      // warmup: one FULL-SIZE untimed pass. The r5 quarter-sized warmup
      // gave the 4N level 4x less JIT work PER CORE than the N level
      // (fresh executor JVMs per session), so interleaved high-level
      // first reps read systematically cold (r6 pairs J/K: first high
      // rep 1.6-2.1M vs 3.0-3.3M steady) — a warmup that equals the
      // measured shape removes the per-level JIT asymmetry outright
      BenchKernelRunner.run(spark, n, totalCores)
      val rates = (1 to reps).map { i =>
        val (w, u) = BenchKernelRunner.run(spark, n, totalCores)
        System.err.println(f"[cluster-scale] execs=$execs rep=$i wall=$w%.1fs rate=${u / w}%.0f/s")
        u / w
      }
      (rates, registered)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 64000000L
    // reps < 3 produced the round-4 0.21 window artifact (a 2-rep high
    // level still JIT-climbing); the protocol now enforces its own floor
    val reps = math.max(3, if (args.length > 1) args(1).toInt else 3)
    val lowExecs = if (args.length > 2) args(2).toInt else 2
    val cores = if (args.length > 3) args(3).toInt else 4
    val memMb = if (args.length > 4) args(4).toInt else 5120
    val highExecs = lowExecs * 4

    // INTERLEAVED protocol (VERDICT r5 next-round #2): the round-5 block
    // protocol (all low reps, then all high) confounded slow window drift
    // with executor count — pair H's high level ran second and decayed
    // monotonically. Here each rep is a LOW,HIGH pair adjacent in time
    // (fresh session per level, same warmup), so drift hits both levels
    // symmetrically, and the paired-rep-ratio median is reported as the
    // drift-robust estimator next to the legacy best-of/median numbers.
    val pairs = (1 to reps).map { i =>
      System.err.println(s"[cluster-scale] interleaved pair $i/$reps")
      val (lo, loReg) = level(lowExecs, cores, memMb, n, 1)
      val (hi, hiReg) = level(highExecs, cores, memMb, n, 1)
      (lo.head, hi.head, loReg, hiReg)
    }
    val (lowRates, highRates) = (pairs.map(_._1), pairs.map(_._2))
    val lowReg = pairs.map(_._3).min
    val highReg = pairs.map(_._4).min
    val pairRatios = pairs.map(p => (p._2 / p._1) / 4.0)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
    val lowBest = lowRates.max
    val highBest = highRates.max
    val eff = (highBest / lowBest) / 4.0
    // median-based efficiency reported alongside best-of: on a shared box
    // best-of can pick one lucky window per level (round-4 advice asked
    // for a variance-honest estimator next to the headline)
    val effMed = (median(highRates) / median(lowRates)) / 4.0
    // locale-pinned formatting: JSON must not pick up comma decimals or
    // non-Latin digits from the host locale (matches Bench.stepsJson)
    // the drift-robust estimator: median over per-pair (high/low)/4
    // ratios, each pair measured adjacent in time
    val effPaired = median(pairRatios)
    import java.util.Locale.ROOT
    def num(d: Double, fmt: String) = fmt.formatLocal(ROOT, d)
    def arr(xs: Seq[Double]) = xs.map(num(_, "%.0f")).mkString("[", ",", "]")
    def arr3(xs: Seq[Double]) = xs.map(num(_, "%.3f")).mkString("[", ",", "]")
    println(
      s"""{"mode":"local-cluster","protocol":"interleaved","kernel_n":$n,"cores_per_executor":$cores,"executor_mem_mb":$memMb,"reps_per_level":$reps,""" +
      s""""low_executors":$lowExecs,"low_registered":$lowReg,"low_rates":${arr(lowRates)},"low_best_urls_per_sec":${lowBest.toLong},"low_median_urls_per_sec":${median(lowRates).toLong},""" +
      s""""high_executors":$highExecs,"high_registered":$highReg,"high_rates":${arr(highRates)},"high_best_urls_per_sec":${highBest.toLong},"high_median_urls_per_sec":${median(highRates).toLong},""" +
      s""""pair_ratios":${arr3(pairRatios)},"efficiency_paired_median":${num(effPaired, "%.3f")},""" +
      s""""efficiency_n_to_4n":${num(eff, "%.3f")},"efficiency_median":${num(effMed, "%.3f")}}""")
  }
}
