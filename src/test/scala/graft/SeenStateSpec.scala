package graft

import graft.plans.SeenState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the exact bucketed LSM seen state: the one dedup plan
  * ([[SeenState.freshAndConfirmed]]) equals set-minus across skewed
  * buckets, mixed waves and compactions, the chain stays bounded, and an
  * empty bootstrap passes every candidate through — the properties the
  * 10^10 design hangs on (end-to-end exactness is covered by
  * CrawlEquivalenceSpec). */
class SeenStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def hashes(from: Long, until: Long) =
    spark.range(from, until).select(xxhash64(col("id")).as("url_hash"))

  /** The hashes of ids in [from, until) that fall in bucket 0 of 4: a
    * wave that lands in one bucket only. */
  private def inBucket0(from: Long, until: Long) =
    hashes(from, until).filter(pmod(hash(col("url_hash")), lit(4)) === 0)

  private def longs(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  test("per-piece filters: an outgrown bucket guess keeps no false negatives") {
    val s = new SeenState(spark, buckets = 4, compactAt = 100)
    try {
      s.bootstrap(hashes(0, 1000))
      s.addWave(hashes(1000, 3000))
      // ~3000 rows all in bucket 0: one bucket holds a whole piece
      val skew = inBucket0(10000, 22000)
      s.addWave(skew)
      val seen = hashes(0, 3000).unionByName(skew)
      val seenSet = longs(seen)
      assert(s.totalSeen == seenSet.size.toLong)
      // no seen hash passes as fresh, across the pieces
      assert(longs(s.freshAndConfirmed(seen)).isEmpty, "a seen hash passed as fresh")
      // and the dedup agrees with set-minus
      val cands = hashes(2000, 4000).unionByName(inBucket0(21000, 23000))
      assert(longs(s.freshAndConfirmed(cands)) == longs(cands) -- seenSet)
    } finally s.close()
  }

  test("per-piece filters: no false negatives across mixed waves and a compaction") {
    val s = new SeenState(spark, buckets = 4, compactAt = 4)
    try {
      // waves of 250, 2000, 500 and 1000 rows: five pieces with the
      // bootstrap, so the stack compacts on the way
      val waves = Seq(hashes(1000, 1250), hashes(1250, 3250), hashes(3250, 3750),
        hashes(3750, 4750))
      s.bootstrap(hashes(0, 1000))
      var seen = hashes(0, 1000)
      waves.foreach { w =>
        s.addWave(w)
        seen = seen.unionByName(w)
        assert(s.pieceCount < 4, s"chain length ${s.pieceCount} past compactAt - 1")
        assert(longs(s.freshAndConfirmed(seen)).isEmpty, "a seen hash passed as fresh")
      }
      assert(s.compactions >= 1)
      val seenSet = longs(seen)
      assert(s.totalSeen == seenSet.size.toLong)
      // the dedup agrees with set-minus
      val cands = hashes(4000, 6000)
      assert(longs(s.freshAndConfirmed(cands)) == longs(cands) -- seenSet)
    } finally s.close()
  }

  test("piece stack compacts (anti-join chain length stays bounded)") {
    val s = new SeenState(spark, buckets = 4, compactAt = 4)
    s.bootstrap(hashes(0, 100))
    (1 to 6).foreach(i => s.addWave(hashes(i * 100L, i * 100L + 100)))
    assert(s.compactions >= 1)
    assert(s.pieceCount < 4)
    assert(s.totalSeen == 700L)
    val got = s.freshAndConfirmed(hashes(650, 800)).collect().map(_.getLong(0)).toSet
    val byId = spark.range(0, 800).select(col("id"), xxhash64(col("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (700L until 800L).map(byId).toSet)
  }

  test("tiered compaction: 30-wave run never re-shuffles the base piece") {
    // VERDICT r3 #3 gate. Base 50k ≫ waves of 1k: the all-pieces union
    // would re-merge the base every ~compactAt waves (≈6 × ~55-80k ≈ 400k
    // rows re-shuffled); the size-tiered policy merges only similar-sized
    // runs, so the base piece must survive the whole run untouched and
    // the background shuffle volume stays ∝ Σwaves·log, not ∝ seen·waves.
    val s = new SeenState(spark, buckets = 4, compactAt = 6)
    s.bootstrap(hashes(0, 50000))
    (0 until 30).foreach { i =>
      s.addWave(hashes(50000L + i * 1000L, 50000L + (i + 1) * 1000L))
      assert(s.pieceCount < 6 || s.pieceCount == s.pieceSizesView.size,
        "piece bookkeeping out of sync")
    }
    assert(s.pieceCount < 6, s"chain unbounded: ${s.pieceCount}")
    assert(s.compactions >= 1)
    // the witness: the 50k base was never part of a merge group…
    assert(s.pieceSizesView.contains(50000L),
      s"base piece was re-merged; sizes=${s.pieceSizesView}")
    // …and total compaction shuffle stayed far under the all-union volume
    assert(s.compactedRowsTotal < 150000L,
      s"compaction re-shuffled ${s.compactedRowsTotal} rows (old scheme ≈ 400k)")
    assert(s.totalSeen == 80000L)
    // exactness after 30 waves of tiered merging
    val got = s.freshAndConfirmed(hashes(79000, 81000)).collect().map(_.getLong(0)).toSet
    val byId = spark.range(79000, 81000).select(col("id"), xxhash64(col("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (80000L until 81000L).map(byId).toSet)
    s.close()
  }

  test("bootstrap over an empty seen table passes every candidate through") {
    import spark.implicits._
    val s = new SeenState(spark, buckets = 4, compactAt = 8)
    try {
      // the frame a fresh crawl bootstraps from
      s.bootstrap(spark.emptyDataset[graft.model.SeenUrl].toDF())
      val want = hashes(0, 500).collect().map(_.getLong(0)).toSet
      val got = s.freshAndConfirmed(hashes(0, 500)).collect().map(_.getLong(0)).toSet
      assert(got == want)
      assert(s.pieceCount == 0 && s.totalSeen == 0L)
      // the first wave creates the first piece; later waves dedup against it
      s.addWave(hashes(0, 500))
      assert(s.pieceCount == 1)
      val next = s.freshAndConfirmed(hashes(250, 750)).collect().map(_.getLong(0)).toSet
      assert(next == hashes(500, 750).collect().map(_.getLong(0)).toSet)
    } finally s.close()
  }

  test("freshAndConfirmed equals exact set-minus and reuses one exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = new SeenState(spark, buckets = 4, compactAt = 8)
      s.bootstrap(hashes(0, 3000))
      s.addWave(hashes(3000, 4000))
      val out = s.freshAndConfirmed(hashes(2000, 6000))
      val got = out.collect().map(_.getLong(0)).toSet
      val byId = spark.range(0, 6000).select(col("id"), xxhash64(col("id")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == (4000L until 6000L).map(byId).toSet)
      // ONE candidate exchange feeds the whole join chain, read once —
      // the seen side exchanges zero rows
      val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val exchanges = plan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning")).size
      assert(exchanges == 1,
        s"expected 1 candidate exchange on the dedup path, got $exchanges:\n${plan.take(4000)}")
      assert(!plan.contains("ReusedExchange"),
        s"the candidate exchange must be read once:\n${plan.take(4000)}")
      s.close()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("packed pieces hold at most 10 bytes of block storage per seen hash") {
    val s = new SeenState(spark, buckets = 4, compactAt = 8)
    try {
      s.bootstrap(hashes(0, 200000))
      s.addWave(hashes(200000, 210000))
      s.addWave(hashes(210000, 220000))
      assert(s.totalSeen == 220000L)
      val bytes = s.storedBytes
      assert(bytes > 0L && bytes <= 10L * s.totalSeen,
        s"$bytes stored bytes for ${s.totalSeen} hashes")
    } finally s.close()
  }

  test("packed scan: edge hashes, repeats, sparse buckets and nulls dedup exactly") {
    import spark.implicits._
    def frame(xs: Seq[Option[Long]]): DataFrame = xs.toDF("url_hash")
    def some(xs: Long*): Seq[Option[Long]] = xs.map(Some(_))
    val edges = Seq(Long.MinValue, Long.MinValue + 1, -42L, -1L, 0L, Long.MaxValue)
    val base = (1L to 500L).map(_ * -7919L)
    // a seen frame holding a null hash
    val boot = some(edges ++ base: _*) :+ None
    // a wave that repeats a hash, in itself and against the bootstrap
    val repeats = Seq(5L, 5L, 6L, Long.MaxValue, 5L)
    // fewer rows than buckets: most of the piece's partitions are empty
    val sparse = Seq(Long.MaxValue - 1, 123L)
    val unseen = Seq(Long.MinValue + 2, -3L, 7L, 1L << 62, Long.MaxValue - 2)
    val cands = some(edges ++ repeats ++ sparse ++ unseen ++ base.take(50): _*) :+ None
    val s = new SeenState(spark, buckets = 4, compactAt = 3)
    try {
      var seen = Set.empty[Long]
      def check(): Unit = {
        val got = s.freshAndConfirmed(frame(cands)).collect()
          .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
        assert(got.flatten.toSet == cands.flatten.toSet -- seen)
        assert(got.count(_.isEmpty) == 1, "a null candidate must pass through as fresh")
      }
      s.bootstrap(frame(boot)); seen ++= boot.flatten; check()
      s.addWave(frame(some(repeats: _*))); seen ++= repeats; check()
      assert(s.compactions == 0)
      s.addWave(frame(some(sparse: _*))); seen ++= sparse
      assert(s.compactions == 1)
      check()
    } finally s.close()
  }
}
