package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order keys without single-partition bottlenecks.
  *
  * A dense global rank (`row_number` over an empty window) serializes the
  * whole dataset through one partition — fatal at 10^10 rows. The crawl
  * only needs parent ranks that are ORDER-ISOMORPHIC to the dense visit
  * rank (priority comparisons and min-wins dedup are order-based), so each
  * wave assigns `ord` = range-partitioned, sort-preserving
  * monotonically_increasing_id: ascending range partitions get ascending
  * partition ids, and the id is (partitionId << 33 | localOffset), hence
  * globally ordered like the sort key while every partition works
  * independently.
  *
  * Dense ranks are materialized exactly once, at golden-order emission,
  * by decoding the ids ([[rankOfId]]: one per-(wave, partition) count
  * aggregate + a broadcast prefix-sum join — no single-partition stage,
  * no re-sort).
  */
object Ranker {

  /** Add `ordCol`: a long, order-isomorphic to sortKeys, all values
    * strictly greater than any value from previous waves (waveBase must
    * leave 2^50 headroom per wave). */
  def orderIsomorphicId(df: DataFrame, sortKeys: Seq[Column], ordCol: String,
      waveBase: Long, partitions: Int): DataFrame = {
    val sorted = df
      .repartitionByRange(partitions, sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
    sorted.withColumn(ordCol, monotonically_increasing_id() + lit(waveBase))
  }

  /** Dense 1-based rank of ids made by [[orderIsomorphicId]], decoded
    * from the ids alone: an id is waveBase + (partitionId << 33 | offset),
    * waveBase a multiple of 2^33, and each (waveBase, partition) group
    * holds the offsets 0..n-1 with no gaps. So a row's rank is the row
    * count of every smaller group, plus its offset, plus 1. The group
    * counts (groups = waves × partitions rows) are collected to the
    * driver and prefix-summed; the rows are never exchanged, sorted or
    * cached. */
  def rankOfId(df: DataFrame, idCol: String, rankCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val group = shiftright(col(idCol), 33)
    val counts = df.groupBy(group.as("__g")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val starts = counts.map(_._1).zip(counts.map(_._2).scanLeft(0L)(_ + _)).toSeq
      .toDF("__g", "__start")
    df.join(broadcast(starts), group === col("__g"))
      .withColumn(rankCol, col("__start") + (col(idCol).bitwiseAND(lit((1L << 33) - 1))) + 1)
      .drop("__g", "__start")
  }
}
