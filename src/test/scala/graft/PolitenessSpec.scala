package graft

import graft.operators.{Politeness, Robots}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicLong

/** Per-host cutoff selection: exact against a driver-side sort by
  * (depth, parent_ord, link_index, url_hash), and bounded under hot-host
  * skew — a hot host's exchange carries budget-bounded key buffers, not
  * its rows. */
class PolitenessSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private type Row5 = (String, Int, Long, Int, Long) // host, depth, parent_ord, link_index, url_hash

  private def frame(rows: Seq[Row5]): DataFrame = {
    import spark.implicits._
    rows.toDF("host", "depth", "parent_ord", "link_index", "url_hash").repartition(4)
  }

  private def hashes(df: DataFrame): Set[Long] =
    df.select("url_hash").collect().map(_.getLong(0)).toSet

  test("cutoff selection is exact on ties, budget 0, and at-budget hosts") {
    val rnd = new scala.util.Random(7)
    val rows: Seq[Row5] =
      // 50 rows tied on (depth, parent_ord, link_index): url_hash decides
      (0 until 50).map(_ => ("tie.org", 1, 7L, 0, rnd.nextLong())) ++
      // clock-blocked for the whole wave: budget 0
      (0 until 12).map(_ => ("blocked.org", rnd.nextInt(3), rnd.nextLong(), rnd.nextInt(4),
        rnd.nextLong())) ++
      // clock overhang leaves a budget of 3
      (0 until 20).map(_ => ("partial.org", rnd.nextInt(3), rnd.nextLong(), rnd.nextInt(4),
        rnd.nextLong())) ++
      // exactly at its budget of 5: uncontended
      (0 until 5).map(_ => ("exact.org", rnd.nextInt(3), rnd.nextLong(), 0, rnd.nextLong()))
    val budgets = Map("tie.org" -> 5, "blocked.org" -> 0, "partial.org" -> 3, "exact.org" -> 5)
    val want = rows.groupBy(_._1).toSeq.flatMap { case (h, rs) =>
      rs.sortBy(r => (r._2, r._3, r._4, r._5)).take(budgets(h))
    }.map(_._5).toSet
    val all = rows.map(_._5).toSet
    assert(all.size == rows.size)

    import spark.implicits._
    // ticks per wave 5, wave 0: next_ts 5 blocks the wave, next_ts 2
    // leaves ticks 2, 3, 4; hosts without a clock row get the full 5
    val clock = Seq(("blocked.org", 5L), ("partial.org", 2L)).toDF("host", "next_ts")
    val policy = Robots.policy(Seq.empty, spark)
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      // the plain path and the measured (held, counted) path
      Seq(-1L, Robots.MaxBroadcastHosts + 1L).foreach { hint =>
        val (fetch, defer) = Politeness.selectWith(frame(rows),
          Politeness.clockedBudgeter(policy, clock, wave = 0, ticksPerWave = 5),
          hostsHint = hint, hold = df => { held += df; df.persist() })
        val (f, d) = (hashes(fetch), hashes(defer))
        assert(f == want, s"hint $hint: fetch differs from the driver-side sort")
        assert(f.intersect(d).isEmpty, s"hint $hint: fetch and defer overlap")
        assert(f ++ d == all, s"hint $hint: fetch ∪ defer is not the frontier")
        assert(fetch.count() + defer.count() == rows.size.toLong)
      }
    } finally held.foreach(_.unpersist())
  }

  test("hot-host skew: doubling the hot host leaves shuffle records unchanged") {
    val budget = 20
    val mapTasks = 4
    val policy = Robots.policy(Seq.empty, spark)
    // one hot host with 90% of the rows, 100 cold hosts of 10 rows (under
    // budget), each side in its own 4 map tasks
    def frontier(hot: Long): DataFrame = {
      val cols = Seq(xxhash64(col("id"), lit(hot)).as("url_hash"),
        (col("id") % 3).cast("int").as("depth"), (col("id") * 7919 % 1000).as("parent_ord"),
        (col("id") % 5).cast("int").as("link_index"))
      spark.range(0, hot, 1, mapTasks).select(lit("hot.org").as("host") +: cols: _*)
        .unionByName(spark.range(0, 1000, 1, mapTasks).select(
          concat(lit("c"), col("id") % 100, lit(".org")).as("host") +: cols: _*))
    }
    val records = new AtomicLong()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        records.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
        ()
      }
    }
    def shuffleRecords(hot: Long): (Long, Long, String) = {
      val (fetch, defer) = Politeness.select(frontier(hot), policy, budget, 4)
      TestBus.drain(spark.sparkContext)
      records.set(0L)
      val nFetch = fetch.count()
      defer.count()
      TestBus.drain(spark.sparkContext)
      (records.get(), nFetch, fetch.queryExecution.executedPlan.toString)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (r1, n1, plan) = shuffleRecords(9000L)
      val (r2, n2, _) = shuffleRecords(18000L)
      assert(n1 == budget + 1000L && n2 == n1)
      assert(r2 == r1, s"shuffle records grew with the hot host: $r1 -> $r2")
      // two queries, each at most one host-count row per (map task, host)
      // and one cutoff buffer per (map task, contended host): far below
      // the hot host's 9,000 rows
      assert(r1 <= 2L * 2 * mapTasks * (100 + 1), s"$r1 shuffle records")
      assert(!plan.contains("Window"), s"politeness plan has a Window:\n$plan")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a cutoff buffer holds at most budget keys and yields the budget-th key") {
    val keyType = new StructType().add("depth", IntegerType).add("url_hash", LongType)
    val agg = Politeness.KeyCutoff(Literal(3), BoundReference(0, keyType, nullable = false))
    val keys = (1 to 1000).map(i => (i % 7, i.toLong * 31 % 1009))
    val h = keys.foldLeft(agg.createAggregationBuffer()) { case (b, (d, u)) =>
      agg.update(b, InternalRow(InternalRow(d, u)))
    }
    assert(h.rows.size == 3)
    val back = agg.deserialize(agg.serialize(h))
    assert(back.rows.size == 3 && back.budget == 3)
    val third = keys.sorted.apply(2)
    val cut = agg.eval(back).asInstanceOf[InternalRow]
    assert((cut.getInt(0), cut.getLong(1)) == third)
    // merging two full buffers keeps the budget bound
    assert(agg.merge(agg.deserialize(agg.serialize(h)), back).rows.size == 3)
    // budget 0 keeps nothing and yields a null cutoff
    val zero = Politeness.KeyCutoff(Literal(0), BoundReference(0, keyType, nullable = false))
    val z = zero.update(zero.createAggregationBuffer(), InternalRow(InternalRow(1, 1L)))
    assert(z.rows.isEmpty && zero.eval(z) == null)
  }
}
