package graft.plans

import graft.functions.{LongMembership, UrlExpressions}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.sources.StateIO

import java.nio.file.Files

/** Distributed URL-seen state for the 10^10 path (SURVEY §7.5(4)): an
  * LSM-style stack of hash-bucketed, executor-resident pieces (the EXACT
  * side of dedup), each carrying its own per-bucket bloom prefilter.
  *
  * Scale design — per-wave maintenance is O(wave) in BOTH directions and
  * the probe face is O(seen/B) per executor:
  *
  *  - **Bucket-aligned anti-join, candidate rows are the only shuffle.**
  *    Every piece is `repartition(B, url_hash)` + sorted + lineage-
  *    truncated before it is retained, so its physical partitioning
  *    (HashPartitioning on url_hash) is visible to Catalyst. The per-wave
  *    exact check is a CHAIN of left-anti joins: the wave's candidates
  *    exchange once into the B buckets, then every join in the chain
  *    reuses that partitioning — the seen side never re-shuffles, never
  *    re-reads parquet, and the bytes moved per wave are O(candidates),
  *    not O(seen). At 10^10 seen URLs the pieces are ~80 GB of hashes
  *    spread across the cluster (MEMORY_AND_DISK via localCheckpoint);
  *    no single node ever holds the union.
  *  - **Piece compaction is SIZE-TIERED.** The chain length is bounded:
  *    past `compactAt` pieces, similar-sized runs merge (smallest-first,
  *    a run joins the merge group only while its size ≤ the group's
  *    running total — the classic LSM/logarithmic-method invariant). A
  *    large base piece is re-shuffled only when the accumulated smaller
  *    runs are comparable to it, so each seen row is re-merged
  *    O(log(seen/wave)) times over a crawl; the previous all-pieces
  *    union re-shuffled the WHOLE seen set every ~compactAt waves —
  *    ~O(seen/compactAt) rows/wave of background shuffle at 10^10 seen
  *    (VERDICT r3 "what's wrong" #3). [[compactedRowsTotal]] witnesses
  *    the volume; the SeenStateSpec 30-wave gate asserts the base piece
  *    stays un-reshuffled while waves ≪ base.
  *  - **Each piece's bloom images are built once, from its own rows.**
  *    When a piece is built (bootstrap, bank import, wave fold or
  *    compaction), one distributed pass writes one image per bucket into
  *    the piece's own dir under `bankRoot`, sized max(1024, 2n/B) for n
  *    rows; only per-bucket counts reach the driver, never an image. A
  *    skewed bucket past that guess triggers one rebuild at twice its
  *    exact count, so every image holds the configured FPP. A piece never
  *    changes, so its images never saturate and are never rebuilt:
  *    filter work per wave is the wave's rows plus the rows compaction
  *    re-merges, and it is retired with the piece.
  *  - **Probe face = one path-only FileBank broadcast per piece.** Each
  *    broadcast carries only its piece's image dir
  *    ([[LongMembership.FileBank]]); executors fault in per-bucket images
  *    lazily. Because the bucket function IS the candidate exchange's
  *    partition id ([[LongMembership.bucketOf]]), probing AFTER the
  *    exchange ([[freshAndConfirmed]]) touches one bucket per piece per
  *    task — executor residency is O(seen/B) per task slot, not O(seen).
  *    The pieces' broadcasts are OR-ed in codegen (MightContainLong);
  *    compaction bounds the depth at compactAt − 1.
  *  - **Nothing broadcast-reachable is ever mutated.** Image files are
  *    immutable once broadcast; a piece retired by compaction or a
  *    re-bootstrap keeps its broadcast and dir until the caller's wave
  *    boundary ([[releaseRetired]]) because a cache-evicted partition of
  *    a live wave plan may recompute the probe mid-wave.
  *
  * `useCuckoo` and `expectedItems` are compatibility parameters that keep
  * their names and positions for callers that still pass them: the cuckoo
  * prefilter is gone (`true` is rejected), and each piece sizes its images
  * from its own row count, so `expectedItems` is unused.
  */
final class SeenState(
    spark: SparkSession,
    buckets: Int,
    useCuckoo: Boolean = false,
    expectedItems: Long = 0L,
    fpp: Double,
    compactAt: Int,
    bankRoot: String = null) {

  require(!useCuckoo, "the cuckoo seen prefilter was removed; bloom is the only prefilter")

  import spark.implicits._

  private val B = buckets

  /** One immutable LSM run: its bucketed rows, its exact row count (which
    * drives the size-tiered merge policy), and its per-bucket bloom images
    * in `dir` (per-bucket row counts in `counts`), probed through `bc`. */
  private case class Piece(rows: DataFrame, n: Long, dir: String, counts: Array[Long],
      bc: Broadcast[LongMembership])

  private var pieces: Vector[Piece] = Vector.empty
  private var compactedRows: Long = 0L
  private var nCompactions: Int = 0
  private var retiredBcs: Vector[Broadcast[LongMembership]] = Vector.empty
  private var retiredDirs: Vector[String] = Vector.empty
  private var dirVersion: Int = 0

  // Unique instance root: a crashed run's stale image files must never be
  // read as current state (the durable bank rides the IceLite filters
  // table, version-gated — these dirs are scratch).
  private val instRoot: String = {
    val base =
      if (bankRoot != null) bankRoot
      else Files.createTempDirectory("graft-seen-bank").toString
    val inst = s"$base/${java.util.UUID.randomUUID.toString.take(8)}"
    StateIO.forPath(inst).mkdirs(inst)
    inst
  }

  /** Bucket column — MUST equal the partition id `repartition(B,
    * url_hash)` assigns (pmod(murmur3, B), see LongMembership.bucketOf)
    * so image buckets co-locate with exchanged candidates. */
  private def bucketCol: Column = pmod(hash(col("url_hash")), lit(B)).cast("int")

  /** Hash-bucket + sort + truncate lineage: the retained physical layout
    * every later anti-join aligns to without exchanging this side.
    * (checkpointPartitioned = eager localCheckpoint that KEEPS the
    * partitioning visible — plain localCheckpoint loses it under AQE and
    * every wave would re-exchange the whole seen set.) Returns the piece
    * rows with their exact count. */
  private def prep(hashes: DataFrame): (DataFrame, Long) =
    GraftShim.checkpointPartitioned(
      hashes.select(col("url_hash"))
        .repartition(B, col("url_hash"))
        .sortWithinPartitions("url_hash"),
      "url_hash", B)

  // graft_bloom_agg, not Spark's bloom_filter_agg: the builtin clamps
  // items to the 4M runtime-filter conf while keeping the caller's bit
  // count, so its images stop matching BloomFilter.create(...) sizing
  // once a bucket grows past 4M (see BloomFilterAgg doc)
  private def aggFor(cap: Long): Column =
    graft.functions.BloomFilterAgg.graft_bloom_agg(col("url_hash"), cap, fpp)

  private def estFilterBytes(cap: Long): Long =
    BloomFilter.optimalNumOfBits(cap, fpp) / 8

  /** Partial aggregation holds one filter buffer PER BUCKET PER input
    * partition. Past ~64 MB of per-partition buffer state (the 10^8+
    * bootstrap / compaction regime) that is gigabytes of aggregation
    * state, so pre-exchange the rows by bucket — each partition then
    * aggregates exactly one bucket. Below the threshold aggregate in
    * place: exchanging B small partial buffers beats re-shuffling the
    * rows, and at wave scale it keeps the filter build latency-free. */
  private def grouped(df: DataFrame, bufBytesPerBucket: Long) = {
    val base = df.select(col("url_hash"), bucketCol.as("__b"))
    val pre =
      if (B.toLong * bufBytesPerBucket > 64L * 1024 * 1024)
        base.repartition(B, col("__b"))
      else base
    pre.groupBy(col("__b"))
  }

  private def nextDir(): String = {
    dirVersion += 1
    s"$instRoot/v$dirVersion"
  }

  /** One distributed pass over `df` building images at `cap`: tasks
    * write per-bucket image files under `dir` (shared storage) and only
    * per-bucket counts return to the driver — the images themselves
    * never leave the executors. */
  private def writeImagesAt(df: DataFrame, cap: Long, dir: String): Array[(Int, Long)] = {
    StateIO.forPath(dir).mkdirs(dir)
    grouped(df, estFilterBytes(cap))
      .agg(aggFor(cap).as("f"), count(lit(1)).as("n"))
      .select(col("__b"), col("f"), col("n"))
      .as[(Int, Array[Byte], Long)]
      .map { case (b, img, n) =>
        SeenState.writeBucketFile(dir, b, img)
        (b, n)
      }
      .collect()
  }

  /** Images for the `n` rows of `df` in a fresh dir, sized max(1024, 2n/B)
    * per bucket. The counts are exact, so a skewed bucket past the guess
    * costs one rebuild at twice its count, which always fits (the rebuild
    * overwrites every image of the first pass). Returns the dir and the
    * per-bucket counts. */
  private def writeImages(df: DataFrame, n: Long): (String, Array[Long]) = {
    val dir = nextDir()
    val guess = math.max(1024L, 2L * n / B)
    val first = writeImagesAt(df, guess, dir)
    val maxN = if (first.isEmpty) 0L else first.map(_._2).max
    val stats = if (maxN > guess) writeImagesAt(df, 2L * maxN, dir) else first
    val counts = new Array[Long](B)
    stats.foreach { case (b, c) => counts(b) = c }
    (dir, counts)
  }

  private def piece(rows: DataFrame, n: Long, dir: String, counts: Array[Long]): Piece =
    Piece(rows, n, dir, counts,
      spark.sparkContext.broadcast(LongMembership.FileBank(dir, B): LongMembership))

  /** Prep `hashes` into a piece with its own images. Zero rows make no
    * piece: the empty checkpoint has zero partitions while still claiming
    * the B-way partitioning, so no candidate exchange could zip with it
    * ([[freshAndConfirmed]] passes every candidate through while there is
    * no piece, and the first [[addWave]] creates one). */
  private def build(hashes: DataFrame): Option[Piece] = {
    val (rows, n) = prep(hashes)
    if (n == 0L) { GraftShim.freeCheckpoint(rows); None }
    else {
      val (dir, counts) = writeImages(rows, n)
      Some(piece(rows, n, dir, counts))
    }
  }

  /** Free a piece's rows now; its broadcast and dir wait for
    * [[releaseRetired]] (a live wave plan may still probe them). */
  private def retire(p: Piece): Unit = {
    GraftShim.freeCheckpoint(p.rows)
    retiredBcs :+= p.bc
    retiredDirs :+= p.dir
  }

  private def allRows: DataFrame = pieces.map(_.rows).reduce(_ unionByName _)

  /** Init or resume: absorb the durable seen table in one pass, as one
    * piece with its own images. */
  def bootstrap(seenDf: DataFrame): Unit = {
    awaitFold()
    pieces.foreach(retire) // re-bootstrap (e.g. bank fallback)
    pieces = build(seenDf).toVector
  }

  // In-flight asynchronous fold (addWaveAsync). Every state-reading
  // entry point awaits it first; only the driver threads touch this.
  private var pending: scala.concurrent.Future[Unit] = null

  /** Block until an in-flight async fold lands (rethrows its failure). */
  def awaitFold(): Unit = if (pending != null) {
    val p = pending; pending = null
    scala.concurrent.Await.result(p, scala.concurrent.duration.Duration.Inf)
  }

  /** [[addWave]] on a future: the fold's result (a new piece with its
    * images) is only needed by the NEXT wave's probe/anti-join, so the
    * caller's commit tail overlaps the piece checkpoint + image build
    * instead of serializing behind it (~1 s/wave of barrier latency on a
    * 23-wave crawl). Durable state does not depend on the fold — a crash
    * mid-fold resumes by re-bootstrapping from the seen table. */
  def addWaveAsync(newSeenHashes: DataFrame)(
      implicit ec: scala.concurrent.ExecutionContext): Unit = {
    awaitFold()
    pending = scala.concurrent.Future(addWave(newSeenHashes))
  }

  /** Absorb one wave's new seen hashes (caller guarantees cached upstream
    * — the piece checkpoint reads the cache, not the plan) as one new
    * piece. Per-wave cost: one piece prep + one WAVE-SIZED image pass;
    * older pieces are only touched when compaction merges them. */
  def addWave(newSeenHashes: DataFrame): Unit = {
    pieces ++= build(newSeenHashes)
    if (pieces.size >= compactAt) compact()
  }

  /** The probe face (driver-side view, for tests/tools): the OR of the
    * pieces' images. */
  def prefilter: LongMembership =
    LongMembership.Layered(pieces.map(p => LongMembership.FileBank(p.dir, B)))

  /** The probe column for this wave: the OR of every piece's images, all
    * inside whole-stage codegen. Capture per wave (the piece set
    * changes). NOTE: memory-bounded only AFTER a repartition(B, url_hash)
    * — use [[freshAndConfirmed]] on the hot path so each task faults in
    * just its own bucket's images. */
  def probe(c: Column): Column = {
    awaitFold()
    if (pieces.isEmpty) lit(false)
    else UrlExpressions.might_contain_any(c, pieces.map(_.bc))
  }

  /** Destroy broadcasts and image dirs of retired pieces.
    * Call ONLY at a wave boundary, after every plan that could
    * re-evaluate the previous wave's probe has been committed and
    * unpersisted (a recomputed partition may lazily fault in a retired
    * bucket image mid-wave). */
  def releaseRetired(): Unit = {
    awaitFold()
    // unpersist, NOT destroy: executor blocks are freed now (the memory
    // that matters at scale), but the handle stays serializable — plan /
    // RDD object graphs from earlier waves (piece lineage, cached plan
    // trees) can still transitively reference a retired broadcast when a
    // later wave's task closure serializes, and a destroyed handle fails
    // that serialization outright. The driver-held value is garbage once
    // unreferenced; ContextCleaner then destroys it. close() still hard-
    // destroys everything at end of run (bench reps must not leak).
    retiredBcs.foreach(b => scala.util.Try(b.unpersist(blocking = false)))
    retiredBcs = Vector.empty
    retiredDirs.foreach(SeenState.deleteDir)
    retiredDirs = Vector.empty
    freeCandCk() // the wave's dedup plans are committed — drop the candidate checkpoint
  }

  /** candidates MINUS seen, exact: one candidate-side exchange into the
    * bucket partitioning, then a zero-exchange join chain over pieces. */
  def antiJoin(cands: DataFrame): DataFrame = {
    awaitFold()
    pieces.foldLeft(cands)((acc, p) => acc.join(p.rows, Seq("url_hash"), "left_anti"))
  }

  /** The wave dedup in one plan, scale-shaped: candidates exchange ONCE
    * into the bucket partitioning (O(wave) bytes — the only shuffle),
    * the pieces' prefilters probe POST-exchange (task p loads only bucket
    * p's images: O(seen/B) resident), filter-negatives skip the join
    * chain entirely, filter-positives get exact confirmation against the
    * pre-partitioned pieces with zero seen-side exchange. Returns
    * fresh ∪ confirmed (the truly-new candidates).
    *
    * `candsHint` (-1 = unknown): past [[SeenState.CheckpointCandsAt]]
    * rows, the exchanged candidates are wrapped in a LAZY columnar cache
    * before the fresh/confirmed split. Both branches then reference one
    * InMemoryRelation — one shuffle dependency, so the exchange's map
    * stage runs exactly once and each cached partition is computed once
    * (block-level getOrElseUpdate) — where the plain two-branch plan
    * materialized the exchange TWICE over a persisted ranked fetch-set
    * (two full map stages, 2.3 GB shuffle written each, the second alone
    * ~45% of r6 kernel wall at 64M rows; AQE's exchange reuse fires on
    * the small deterministic probe plan in PLANS.md but not on this
    * shape). Lazy on purpose: no extra materialization pass — the first
    * branch to touch a partition computes and caches it. Below the
    * threshold the plain plan wins (a small wave should not pay a cache
    * round-trip). The cache is released at the next call, at
    * [[releaseRetired]] (wave boundary), and at [[close]].
    *
    * One live result per SeenState: on the large path the returned frame
    * reads that cache, and the next `freshAndConfirmed`, [[releaseRetired]]
    * or [[close]] frees it. A result read after that is still correct,
    * but recomputes the candidate exchange instead of sharing it, so a
    * caller materializes (or persists) one result before asking for the
    * next. */
  def freshAndConfirmed(cands: DataFrame, candsHint: Long = -1L): DataFrame = {
    awaitFold()
    if (pieces.isEmpty) return cands
    freeCandCk()
    val parts =
      if (candsHint >= SeenState.CheckpointCandsAt) {
        candCk = cands.repartition(B, col("url_hash")).persist()
        candCk
      } else cands.repartition(B, col("url_hash"))
    val might = UrlExpressions.might_contain_any(col("url_hash"), pieces.map(_.bc))
    val fresh = parts.filter(!might)
    val confirmed = pieces.foldLeft(parts.filter(might))(
      (acc, p) => acc.join(p.rows, Seq("url_hash"), "left_anti"))
    fresh.unionByName(confirmed)
  }

  // the one live candidate-side cache (freshAndConfirmed large path)
  private var candCk: DataFrame = null
  private def freeCandCk(blocking: Boolean = false): Unit = if (candCk != null) {
    scala.util.Try(candCk.unpersist(blocking))
    candCk = null
  }

  /** Distributed (bucket, image, n) frame over every seen row — B rows
    * built by tasks reading image files from shared storage; no O(seen)
    * bytes ever land on the driver (the durable-bank write path:
    * CrawlJob.persistFilterBank). One piece exports its own images;
    * several are first merged by one image pass over all pieces, into a
    * dir that lives until [[close]] (the frame reads it lazily). */
  def bankDf(): DataFrame = {
    awaitFold()
    val (dir, counts) =
      if (pieces.size == 1) (pieces.head.dir, pieces.head.counts)
      else if (pieces.isEmpty) (nextDir(), new Array[Long](B))
      else writeImages(allRows, totalSeen)
    val fppLocal = fpp
    spark.createDataset(0 until B)
      .repartition(math.min(B, spark.sparkContext.defaultParallelism))
      .map { b =>
        val bytes = Option(LongMembership.loadBucketBytes(dir, b)).getOrElse {
          val o = new java.io.ByteArrayOutputStream()
          BloomFilter.create(1024L, fppLocal).writeTo(o)
          o.toByteArray
        }
        (b, bytes, counts(b))
      }
      .toDF("bucket", "image", "n")
  }

  /** Resume fast path, fully distributed: `bank` is a (bucket, image, n)
    * frame (the persisted IceLite filters table) — tasks parse each image
    * and copy it into a fresh dir; the driver sees only the (bucket, n)
    * stats. The images become the single bootstrap piece's, so restart
    * cost drops to the piece-prep pass + an O(bank) copy that never
    * troubles the driver. An unparsable image, a missing bucket or a row
    * count the bank does not cover throws, and the failed import leaves
    * no piece, broadcast or dir behind (the caller falls back to
    * [[bootstrap]]). */
  def bootstrapFromBank(seenDf: DataFrame, bank: DataFrame): Unit = {
    awaitFold()
    pieces.foreach(retire)
    pieces = Vector.empty
    val dir = nextDir()
    var rows: DataFrame = null
    try {
      StateIO.forPath(dir).mkdirs(dir)
      val stats = bank.select(col("bucket").cast("int"), col("image"), col("n").cast("long"))
        .as[(Int, Array[Byte], Long)]
        .map { case (b, img, n) =>
          LongMembership.deserializeFilter(img) // a corrupt image fails here, not in a probe
          SeenState.writeBucketFile(dir, b, img)
          (b, n)
        }
        .collect()
      require(stats.length == B && stats.map(_._1).toSet == (0 until B).toSet,
        s"bank rows cover ${stats.length} buckets, want $B")
      val (r, n) = prep(seenDf)
      rows = r
      require(stats.map(_._2).sum == n, s"bank covers ${stats.map(_._2).sum} rows, seen has $n")
      val counts = new Array[Long](B)
      stats.foreach { case (b, c) => counts(b) = c }
      if (n > 0L) pieces = Vector(piece(rows, n, dir, counts))
      else { GraftShim.freeCheckpoint(rows); SeenState.deleteDir(dir) }
    } catch {
      case e: Throwable =>
        if (rows != null) GraftShim.freeCheckpoint(rows)
        SeenState.deleteDir(dir)
        throw e
    }
  }

  /** Size-tiered compaction (LSM economics, VERDICT r3 #3): merge ONLY
    * similar-sized runs. Smallest-first, a piece joins the merge group
    * while its size ≤ the group's running total — so a large base piece
    * is touched only when the accumulated smaller runs have grown
    * comparable to it, and each seen row is re-merged O(log(seen/wave))
    * times over a crawl instead of every ~compactAt waves. If the
    * invariant admits no ≥2-piece group (sizes form a >2× geometric
    * ladder), the two smallest merge — guaranteed progress, cheapest
    * possible merge. The merged piece builds its own images; the merged
    * pieces retire. Loops until the chain is back under `compactAt`. */
  private def compact(): Unit = {
    while (pieces.size >= compactAt) {
      val asc = pieces.map(_.n).zipWithIndex.sortBy(_._1) // (size, pieceIdx) ascending
      var group = Vector(asc.head._2)
      var total = asc.head._1
      var i = 1
      while (i < asc.size && asc(i)._1 <= math.max(total, 1L)) {
        group :+= asc(i)._2; total += asc(i)._1; i += 1
      }
      if (group.size < 2) { // forced: merge the two smallest
        group :+= asc(1)._2; total += asc(1)._1
      }
      val inGroup = group.toSet
      val merged = build(group.map(pieces(_).rows).reduce(_ unionByName _)) // eager
      compactedRows += total
      group.foreach(g => retire(pieces(g)))
      pieces = pieces.indices.filterNot(inGroup).map(pieces).toVector ++ merged
      nCompactions += 1
    }
  }

  /** Release every persisted piece RDD, broadcast, and image dir (end of
    * run / bench rep) — leaked pieces, broadcasts, or image files degrade
    * later reps and long sessions. */
  def close(): Unit = {
    scala.util.Try(awaitFold())
    pieces.foreach { p =>
      GraftShim.freeCheckpoint(p.rows)
      scala.util.Try(p.bc.destroy())
    }
    pieces = Vector.empty
    // BLOCKING here (end of run / bench rep, never wave-path latency):
    // an async-freed 2+ GB candidate cache still draining while the next
    // rep allocates its own caused bimodal rep walls (storage churn)
    freeCandCk(blocking = true)
    releaseRetired()
    SeenState.deleteDir(instRoot)
  }

  // introspection (tests + trace)
  def pieceCount: Int = pieces.size
  def totalSeen: Long = pieces.map(_.n).sum
  def compactions: Int = nCompactions
  /** Total rows re-shuffled by piece compaction since construction — the
    * tiered policy's witness: with waves ≪ base, the base piece never
    * joins a merge group, so this stays ∝ Σwaves·log(waves), not
    * ∝ seen·waves/compactAt. */
  def compactedRowsTotal: Long = compactedRows
  private[graft] def pieceSizesView: Seq[Long] = pieces.map(_.n)
  /** Test face: each piece's probe broadcast payload (must stay one path
    * — a full image broadcast here is the 12 GB/executor regression). */
  private[graft] def pieceFaces: Seq[LongMembership] = pieces.map(_.bc.value)
  private[graft] def instanceDir: String = instRoot
}

object SeenState {
  /** Candidate-row threshold for [[SeenState.freshAndConfirmed]]'s
    * cache-once path: above this, materializing the bucket exchange once
    * beats letting the fresh/confirmed branches each run it; below, the
    * plain two-branch plan is cheaper (the two branch map stages run
    * CONCURRENTLY when cores are idle, so at small waves the duplicated
    * exchange costs near-zero wall while the cache serializes
    * populate→read). It sits at the measured crossover band (A/B at 16M
    * rows: no-cache ~5–7% faster; at 64M the cache is the difference
    * between one and two full 2.3 GB shuffle materializations —
    * OPTIMIZATION_r06.md Change 1). On a real cluster the duplicated
    * exchange also doubles NETWORK bytes, so the crossover may sit lower
    * there. */
  val CheckpointCandsAt: Long = 1L << 25

  /** Atomic per-bucket image write (temp + rename; task-retry-safe:
    * last-writer-wins on identical content). Runs INSIDE executor tasks
    * — the StateIO seam resolves the filesystem per call, so a URI bank
    * root lands the image on shared storage (VERDICT r3 #1). */
  private[plans] def writeBucketFile(dir: String, b: Int, bytes: Array[Byte]): Unit =
    StateIO.forPath(dir).writeAtomic(s"$dir/bucket_$b.bin", bytes)

  private[plans] def deleteDir(dir: String): Unit =
    StateIO.forPath(dir).deleteRecursive(dir)
}
