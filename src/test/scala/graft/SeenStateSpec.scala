package graft

import graft.functions.LongMembership
import graft.plans.SeenState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the bucketed LSM seen state: per-piece filter images
  * (sized from each piece's rows, rebuilt once when a bucket outgrows the
  * guess), piece compaction, the prefilter no-false-negative contract,
  * and the empty bootstrap — the properties the 10^10 design hangs on
  * (exactness itself is prefilter-independent and covered by
  * CrawlEquivalenceSpec). */
class SeenStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def hashes(from: Long, until: Long) =
    spark.range(from, until).select(xxhash64(col("id")).as("url_hash"))

  /** The hashes of ids in [from, until) that fall in bucket 0 of 4: a
    * wave this skewed outgrows its max(1024, 2n/B) per-bucket guess. */
  private def inBucket0(from: Long, until: Long) =
    hashes(from, until).filter(pmod(hash(col("url_hash")), lit(4)) === 0)

  private def longs(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  private def dirOf(face: LongMembership): String = face match {
    case fb: LongMembership.FileBank => fb.dir
    case other => fail(s"piece broadcast is ${other.getClass.getSimpleName}, want FileBank")
  }

  private def imageBytes(dir: String, buckets: Int): Long =
    (0 until buckets).map(b =>
      Option(LongMembership.loadBucketBytes(dir, b)).map(_.length.toLong).getOrElse(0L)).sum

  test("per-piece filters: an outgrown bucket guess keeps no false negatives") {
    val s = new SeenState(spark, buckets = 4, fpp = 0.01, compactAt = 100)
    try {
      s.bootstrap(hashes(0, 1000))
      s.addWave(hashes(1000, 3000))
      // ~3000 rows all in bucket 0: twice its 1500/bucket guess, so the
      // piece's images are rebuilt from the exact count
      val skew = inBucket0(10000, 22000)
      s.addWave(skew)
      val seen = hashes(0, 3000).unionByName(skew)
      val seenSet = longs(seen)
      assert(s.totalSeen == seenSet.size.toLong)
      // every inserted hash must probe positive across the pieces
      assert(seen.select(s.probe(col("url_hash")).as("m")).collect().forall(_.getBoolean(0)),
        "false negative in the outgrown piece")
      // and the exact anti-join agrees with set-minus
      val cands = hashes(2000, 4000).unionByName(inBucket0(21000, 23000))
      assert(longs(s.antiJoin(cands)) == longs(cands) -- seenSet)
    } finally s.close()
  }

  test("per-piece filters: no false negatives across mixed waves and a compaction") {
    val s = new SeenState(spark, buckets = 4, fpp = 0.01, compactAt = 4)
    try {
      def allPositive(df: DataFrame): Boolean =
        df.select(s.probe(col("url_hash")).as("m")).collect().forall(_.getBoolean(0))
      // waves of 250, 2000, 500 and 1000 rows: five pieces with the
      // bootstrap, so the stack compacts on the way
      val waves = Seq(hashes(1000, 1250), hashes(1250, 3250), hashes(3250, 3750),
        hashes(3750, 4750))
      s.bootstrap(hashes(0, 1000))
      var seen = hashes(0, 1000)
      waves.foreach { w =>
        s.addWave(w)
        seen = seen.unionByName(w)
        assert(s.pieceCount < 4, s"probe depth ${s.pieceCount} past compactAt - 1")
        assert(allPositive(seen), "false negative")
      }
      assert(s.compactions >= 1)
      val seenSet = longs(seen)
      assert(s.totalSeen == seenSet.size.toLong)
      // the exact anti-join agrees with set-minus
      val cands = hashes(4000, 6000)
      assert(longs(s.antiJoin(cands)) == longs(cands) -- seenSet)
      // the pieces' probe must still prefilter: unseen hashes mostly negative
      val fp = hashes(100000, 101000).select(s.probe(col("url_hash")).as("m"))
        .collect().count(_.getBoolean(0))
      assert(fp < 200, s"prefilter selectivity collapsed: $fp/1000 false positives")
    } finally s.close()
  }

  test("graft_bloom_agg buffers merge with driver filters sized past Spark's 4M clamp") {
    // Spark's builtin BloomFilterAggregate silently clamps its item count
    // to spark.sql.optimizer.runtime.bloomFilter.maxNumItems (4M) while
    // keeping the caller's bit count — past 4M capacity its buffers get a
    // different hash-function count than BloomFilter.create(items, fpp)
    // and mergeInPlace throws IncompatibleMergeException. A piece's bucket
    // images pass 4M items at scale, so the engine's own aggregate must
    // track the exact (items, fpp) sizing. Capacity (not item count) triggers the
    // bug, so this is cheap: 1k rows aggregated at 8M capacity.
    val cap = 8L * 1000 * 1000
    val img = hashes(0, 1000)
      .agg(graft.functions.BloomFilterAgg.graft_bloom_agg(col("url_hash"), cap, 0.01))
      .collect()(0).getAs[Array[Byte]](0)
    val agg = org.apache.spark.util.sketch.BloomFilter.readFrom(img)
    val driverSide = org.apache.spark.util.sketch.BloomFilter.create(cap, 0.01)
    driverSide.mergeInPlace(agg) // builtin agg throws IncompatibleMergeException here
    val all = hashes(0, 1000).collect().map(_.getLong(0))
    assert(all.forall(driverSide.mightContainLong), "false negative after merge")
  }

  test("filter bank export/import: resumed state probes and anti-joins identically") {
    val a = new SeenState(spark, buckets = 4,
      fpp = 0.01, compactAt = 100)
    a.bootstrap(hashes(0, 2000))
    a.addWave(hashes(2000, 6000)) // two pieces: the export merges them in one pass
    val bank = a.bankDf()
    val counts = bank.select("bucket", "n").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(counts.map(_._1).sorted.toSeq == (0 until 4) && counts.map(_._2).sum == 6000L)

    val b = new SeenState(spark, buckets = 4,
      fpp = 0.01, compactAt = 100)
    // the bank frame reads a's bank files: import before a closes
    b.bootstrapFromBank(hashes(0, 6000), bank)
    assert(b.totalSeen == 6000L && b.pieceCount == 1)
    // no false negative: every seen hash probes positive on the resumed bank
    val pos = hashes(0, 6000).select(b.probe(col("url_hash")).as("m")).collect()
    assert(pos.forall(_.getBoolean(0)), "false negative after import")
    // exact anti-join over the re-prepped piece agrees with set-minus
    val got = b.antiJoin(hashes(5000, 8000)).collect().map(_.getLong(0)).toSet
    val byId = spark.range(0, 8000).select(col("id"), xxhash64(col("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (6000L until 8000L).map(byId).toSet)
    a.close(); b.close()
  }

  test("piece stack compacts (anti-join chain length stays bounded)") {
    val s = new SeenState(spark, buckets = 4,
      fpp = 0.01, compactAt = 4)
    s.bootstrap(hashes(0, 100))
    (1 to 6).foreach(i => s.addWave(hashes(i * 100L, i * 100L + 100)))
    assert(s.compactions >= 1)
    assert(s.pieceCount < 4)
    assert(s.totalSeen == 700L)
    val got = s.antiJoin(hashes(650, 800)).collect().map(_.getLong(0)).toSet
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
    val s = new SeenState(spark, buckets = 4,
      fpp = 0.01, compactAt = 6)
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
    val got = s.antiJoin(hashes(79000, 81000)).collect().map(_.getLong(0)).toSet
    val byId = spark.range(79000, 81000).select(col("id"), xxhash64(col("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (80000L until 81000L).map(byId).toSet)
    s.close()
  }

  test("bootstrap over an empty seen table passes every candidate through") {
    import spark.implicits._
    val s = new SeenState(spark, buckets = 4,
      fpp = 0.01, compactAt = 8)
    try {
      // the frame a fresh crawl bootstraps from
      s.bootstrap(spark.emptyDataset[graft.model.SeenUrl].toDF())
      val want = hashes(0, 500).collect().map(_.getLong(0)).toSet
      val got = s.freshAndConfirmed(hashes(0, 500)).collect().map(_.getLong(0)).toSet
      assert(got == want)
      assert(s.pieceCount == 0 && s.totalSeen == 0L)
      // the first wave creates the first piece; later probes dedup against it
      s.addWave(hashes(0, 500))
      assert(s.pieceCount == 1)
      val next = s.freshAndConfirmed(hashes(250, 750)).collect().map(_.getLong(0)).toSet
      assert(next == hashes(500, 750).collect().map(_.getLong(0)).toSet)
    } finally s.close()
  }

  test("bucketed probe routes negative hashes correctly (partition-aligned buckets)") {
    val s = new SeenState(spark, buckets = 8,
      fpp = 0.01, compactAt = 8)
    // xxhash64 produces negative longs ~half the time; bootstrap + probe
    // must agree on the bucket for those
    s.bootstrap(hashes(0, 4000))
    val pf = s.prefilter
    val negs = hashes(0, 4000).collect().map(_.getLong(0)).filter(_ < 0)
    assert(negs.nonEmpty)
    assert(negs.forall(pf.mightContain), "false negative on negative hash")
    s.close()
  }

  test("bucketOf IS the repartition(B, url_hash) partition id (co-location contract)") {
    // the whole post-exchange O(seen/B) residency argument hangs on this:
    // the bank bucket function must equal HashPartitioning's partition id
    for (b <- Seq(4, 8, 32)) {
      val rows = hashes(0, 5000).repartition(b, col("url_hash"))
        .select(col("url_hash"), spark_partition_id().as("pid"))
        .collect()
      rows.foreach { r =>
        val h = r.getLong(0)
        assert(graft.functions.LongMembership.bucketOf(h, b) == r.getInt(1),
          s"bucketOf($h, $b) != partition id ${r.getInt(1)}")
      }
    }
  }

  test("per-wave filter maintenance is O(wave): delta-only builds, bank untouched") {
    val s = new SeenState(spark, buckets = 4, fpp = 0.01, compactAt = 100)
    try {
      s.bootstrap(hashes(0, 200000)) // images sized for 100k/bucket
      val baseDir = dirOf(s.pieceFaces.head)
      val baseBytes = imageBytes(baseDir, 4)
      def baseFiles = (0 until 4).map { b =>
        val p = java.nio.file.Paths.get(s"$baseDir/bucket_$b.bin")
        (java.nio.file.Files.readAllBytes(p).toSeq, java.nio.file.Files.getLastModifiedTime(p))
      }
      val before = baseFiles
      s.addWave(hashes(200000, 201000)) // 1k-row wave
      val waveBytes = imageBytes(dirOf(s.pieceFaces(1)), 4)
      assert(waveBytes > 0L)
      assert(waveBytes * 10 < baseBytes,
        s"wave piece holds $waveBytes image bytes vs bootstrap $baseBytes — not wave-sized")
      // proportionality: a 10x wave builds ~10x, never seen-sized
      s.addWave(hashes(201000, 211000))
      val waveBytes10 = imageBytes(dirOf(s.pieceFaces(2)), 4)
      assert(waveBytes10 < baseBytes / 4,
        s"10x wave piece holds $waveBytes10 vs bootstrap $baseBytes")
      // the folds never touch the bootstrap piece's images
      assert(dirOf(s.pieceFaces.head) == baseDir && baseFiles == before,
        "a wave fold rewrote the bootstrap piece's images")
      // no false negatives across the pieces
      val pos = hashes(199000, 211000).select(s.probe(col("url_hash")).as("m")).collect()
      assert(pos.forall(_.getBoolean(0)), "false negative across the pieces")
    } finally s.close()
  }

  test("every piece's probe broadcast carries a path, not filter images") {
    val s = new SeenState(spark, buckets = 4, fpp = 0.01, compactAt = 100)
    try {
      s.bootstrap(hashes(0, 100000))
      s.addWave(hashes(100000, 101000))
      val faces = s.pieceFaces
      assert(faces.size == 2)
      faces.foreach {
        case fb: LongMembership.FileBank =>
          assert(fb.buckets == 4 && fb.dir != null && fb.dir.startsWith(s.instanceDir))
        case other => fail(s"piece broadcast is ${other.getClass.getSimpleName}, want FileBank")
      }
      assert(faces.map(dirOf).distinct.size == 2, "pieces must not share an image dir")
    } finally s.close()
  }

  test("under-sized delta guess: no false negatives, FPP held by the re-size") {
    val fpp = 0.01
    val s = new SeenState(spark, buckets = 4, fpp = fpp, compactAt = 100)
    try {
      s.bootstrap(hashes(0, 1000))
      // ~4000 rows, all in bucket 0: the max(1024, 2n/B) guess is ~2000,
      // half that bucket's real count
      val skew = inBucket0(1000, 17000)
      s.addWave(skew)
      val all = hashes(0, 1000).unionByName(skew)
        .select(s.probe(col("url_hash")).as("m")).collect()
      assert(all.forall(_.getBoolean(0)), "false negative in the under-guessed piece")
      // an image kept at the guess with twice its rows reads near 15% here;
      // the rebuild at twice the exact count holds the configured FPP
      val wavePiece = s.pieceFaces(1)
      val fresh = hashes(1000000L, 1400000L).collect().map(_.getLong(0))
        .filter(LongMembership.bucketOf(_, 4) == 0)
      val fp = fresh.count(wavePiece.mightContain)
      assert(fp.toDouble / fresh.length <= 3 * fpp,
        s"fresh-key positive rate ${fp.toDouble / fresh.length} exceeds 3 × fpp $fpp")
    } finally s.close()
  }

  test("freshAndConfirmed large-wave path: shared candidate cache, same result, freed at boundary") {
    // the candsHint >= CheckpointCandsAt path wraps the bucket exchange in
    // ONE lazy columnar cache both branches share (AQE materialized the
    // exchange twice on this union shape — r6 kernel finding); the hint is
    // caller-provided, so the path is exercised directly at test scale
    val s = new SeenState(spark, buckets = 4,
      fpp = 0.01, compactAt = 8)
    try {
      s.bootstrap(hashes(0, 3000))
      s.addWave(hashes(3000, 4000))
      val rddsBefore = spark.sparkContext.getPersistentRDDs.size
      val out = s.freshAndConfirmed(hashes(2000, 6000), SeenState.CheckpointCandsAt)
      val got = out.collect().map(_.getLong(0)).toSet
      val byId = spark.range(0, 6000).select(col("id"), xxhash64(col("id")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == (4000L until 6000L).map(byId).toSet,
        "cache-path result must equal exact set-minus")
      // both branches must read the shared candidate cache (one shuffle
      // dependency — the single materialization itself is evidenced by
      // the committed kernel stage profiles, plans/r06)
      val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("InMemoryTableScan"),
        s"large-wave path must read the shared candidate cache:\n${plan.take(3000)}")
      // wave boundary frees the cache (a leaked multi-GB cache per wave
      // would churn storage memory across a crawl)
      s.releaseRetired()
      assert(spark.sparkContext.getPersistentRDDs.size <= rddsBefore,
        "candidate cache must be dropped at the wave boundary")
    } finally s.close()
  }

  test("freshAndConfirmed equals exact set-minus and reuses one exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = new SeenState(spark, buckets = 4,
        fpp = 0.01, compactAt = 8)
      s.bootstrap(hashes(0, 3000))
      s.addWave(hashes(3000, 4000))
      val out = s.freshAndConfirmed(hashes(2000, 6000))
      val got = out.collect().map(_.getLong(0)).toSet
      val byId = spark.range(0, 6000).select(col("id"), xxhash64(col("id")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == (4000L until 6000L).map(byId).toSet)
      // ONE candidate exchange feeds both the fresh filter and the join
      // chain (exchange reuse) — the seen side exchanges zero rows
      val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val exchanges = plan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
        .size
      assert(exchanges == 1,
        s"expected 1 candidate exchange on the dedup path, got $exchanges:\n${plan.take(4000)}")
      assert(plan.contains("ReusedExchange"),
        s"fresh/maybe branches must share the candidate exchange:\n${plan.take(4000)}")
      // the probe must sit ABOVE the exchange (post-exchange = one bucket
      // per task) and must NOT be inferred onto the seen-piece side
      assert(!plan.linesIterator.exists(l =>
          l.contains("mightcontainlong") && l.contains("Scan ExistingRDD")),
        s"probe leaked onto the seen pieces:\n${plan.take(4000)}")
      s.close()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
