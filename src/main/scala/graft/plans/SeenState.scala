package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.functions._

/** Distributed URL-seen state for the 10^10 path (SURVEY §7.5(4)): an
  * LSM-style stack of hash-bucketed, executor-resident pieces that holds
  * every seen 64-bit URL hash exactly — the partitioned form of the
  * reference's visited-hash map. There is no approximate prefilter: the
  * dedup is one exact plan.
  *
  * Scale design — per-wave maintenance is O(wave):
  *
  *  - **Bucket-aligned anti-join, candidate rows are the only shuffle.**
  *    Every piece is `repartition(B, url_hash)` + sorted + lineage-
  *    truncated before it is retained, so its physical partitioning
  *    (HashPartitioning on url_hash) is visible to Catalyst. The per-wave
  *    dedup ([[freshAndConfirmed]]) exchanges the wave's candidates once
  *    into the B buckets, then runs a CHAIN of left-anti joins over the
  *    pieces that reuses that partitioning — the seen side never
  *    re-shuffles, never re-reads parquet, and the bytes moved per wave
  *    are O(candidates), not O(seen). Each bucket is held as packed
  *    sorted `long[]` chunks (MEMORY_AND_DISK via localCheckpoint),
  *    measured at 8.0 bytes of block storage per hash: 1,000,000 hashes
  *    in 8.00 MB, where a deserialized row cache held 75.97 MB. At 10^10
  *    seen URLs that is ~80 GB spread across the cluster; no single node
  *    ever holds the union.
  *  - **Why no bloom prefilter in front of the chain.** A sort-merge
  *    left-anti join scans every piece partition that holds any
  *    already-seen candidate, and a crawl wave has already-seen
  *    candidates in every bucket. A membership filter that lets fresh
  *    candidates skip the join therefore never lets the join skip input;
  *    it only added an image pass per piece and a second read of the
  *    candidate exchange (ROADMAP direction 4 has the A/B).
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
  *
  * `useCuckoo`, `expectedItems`, `fpp` and `bankRoot` are compatibility
  * parameters that keep their names and positions for callers that still
  * pass them; none of them has an effect (`useCuckoo = true` is
  * rejected).
  */
final class SeenState(
    spark: SparkSession,
    buckets: Int,
    useCuckoo: Boolean = false,
    expectedItems: Long = 0L,
    fpp: Double = 0.01,
    compactAt: Int,
    bankRoot: String = null) {

  require(!useCuckoo, "the cuckoo seen prefilter was removed; the seen state is exact")

  private val B = buckets

  /** One immutable LSM run: its bucketed rows and its exact row count
    * (which drives the size-tiered merge policy). */
  private case class Piece(rows: DataFrame, n: Long)

  private var pieces: Vector[Piece] = Vector.empty
  private var compactedRows: Long = 0L
  private var nCompactions: Int = 0

  /** Hash-bucket + sort + pack + truncate lineage: the retained physical
    * layout every later anti-join aligns to without exchanging this side.
    * (checkpointPacked = eager localCheckpoint of the buckets as packed
    * `long[]` chunks that KEEPS the partitioning visible — plain
    * localCheckpoint loses it under AQE and every wave would re-exchange
    * the whole seen set.) Null hashes are dropped first: a null key never
    * matches in the left-anti join, so a piece holding one dedups
    * nothing more, and the packed form holds only non-null longs. Zero
    * rows make no piece: the empty checkpoint has zero partitions while
    * still claiming the B-way partitioning, so no candidate exchange
    * could zip with it ([[freshAndConfirmed]] passes every candidate
    * through while there is no piece, and the first [[addWave]] creates
    * one). */
  private def build(hashes: DataFrame): Option[Piece] = {
    val (rows, n) = GraftShim.checkpointPacked(
      hashes.select(col("url_hash")).filter(col("url_hash").isNotNull)
        .repartition(B, col("url_hash"))
        .sortWithinPartitions("url_hash"),
      B)
    if (n == 0L) { GraftShim.freeCheckpoint(rows); None }
    else Some(Piece(rows, n))
  }

  /** Init or resume: absorb the durable seen table in one pass, as one
    * piece. */
  def bootstrap(seenDf: DataFrame): Unit = {
    awaitFold()
    pieces.foreach(p => GraftShim.freeCheckpoint(p.rows))
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

  /** [[addWave]] on a future: the fold's result (a new piece) is only
    * needed by the NEXT wave's dedup, so the caller's commit tail overlaps
    * the piece checkpoint instead of serializing behind it (~1 s/wave of
    * barrier latency on a 23-wave crawl). Durable state does not depend
    * on the fold — a crash mid-fold resumes by re-bootstrapping from the
    * seen table. */
  def addWaveAsync(newSeenHashes: DataFrame)(
      implicit ec: scala.concurrent.ExecutionContext): Unit = {
    awaitFold()
    pending = scala.concurrent.Future(addWave(newSeenHashes))
  }

  /** Absorb one wave's new seen hashes (caller guarantees cached upstream
    * — the piece checkpoint reads the cache, not the plan) as one new
    * piece. Per-wave cost: one piece prep; older pieces are only touched
    * when compaction merges them. */
  def addWave(newSeenHashes: DataFrame): Unit = {
    pieces ++= build(newSeenHashes)
    if (pieces.size >= compactAt) compact()
  }

  /** "May `c` already be seen?" With no prefilter in front of the exact
    * pieces, every key may be seen as soon as one piece exists. */
  def probe(c: Column): Column = {
    awaitFold()
    lit(pieces.nonEmpty)
  }

  /** The wave dedup, exact, in one plan: candidates exchange ONCE into
    * the bucket partitioning (O(wave) bytes — the only shuffle), then
    * left-anti join every pre-partitioned, pre-sorted piece with zero
    * seen-side exchange. Returns the candidates no piece holds.
    * `candsHint` is a compatibility parameter with no effect. */
  def freshAndConfirmed(cands: DataFrame, candsHint: Long = -1L): DataFrame = {
    awaitFold()
    if (pieces.isEmpty) cands
    else pieces.foldLeft(cands.repartition(B, col("url_hash")))(
      (acc, p) => acc.join(p.rows, Seq("url_hash"), "left_anti"))
  }

  /** Size-tiered compaction (LSM economics, VERDICT r3 #3): merge ONLY
    * similar-sized runs. Smallest-first, a piece joins the merge group
    * while its size ≤ the group's running total — so a large base piece
    * is touched only when the accumulated smaller runs have grown
    * comparable to it, and each seen row is re-merged O(log(seen/wave))
    * times over a crawl instead of every ~compactAt waves. If the
    * invariant admits no ≥2-piece group (sizes form a >2× geometric
    * ladder), the two smallest merge — guaranteed progress, cheapest
    * possible merge. The merged pieces' rows are freed as soon as the
    * merged piece is built. Loops until the chain is back under
    * `compactAt`. */
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
      group.foreach(g => GraftShim.freeCheckpoint(pieces(g).rows))
      pieces = pieces.indices.filterNot(inGroup).map(pieces).toVector ++ merged
      nCompactions += 1
    }
  }

  /** Release every persisted piece RDD (end of run / bench rep) — leaked
    * pieces degrade later reps and long sessions. */
  def close(): Unit = {
    scala.util.Try(awaitFold())
    pieces.foreach(p => GraftShim.freeCheckpoint(p.rows))
    pieces = Vector.empty
  }

  // introspection (tests + trace)
  def pieceCount: Int = pieces.size
  def totalSeen: Long = pieces.map(_.n).sum
  def compactions: Int = nCompactions
  /** Memory plus disk bytes the block store holds for the live pieces. */
  def storedBytes: Long = { awaitFold(); pieces.map(p => GraftShim.storedBytes(p.rows)).sum }
  /** Total rows re-shuffled by piece compaction since construction — the
    * tiered policy's witness: with waves ≪ base, the base piece never
    * joins a merge group, so this stays ∝ Σwaves·log(waves), not
    * ∝ seen·waves/compactAt. */
  def compactedRowsTotal: Long = compactedRows
  private[graft] def pieceSizesView: Seq[Long] = pieces.map(_.n)
}
