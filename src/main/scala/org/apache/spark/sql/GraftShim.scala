package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuilder

/** Bridge to the sql-private Column <-> Expression converters (Spark 4
  * moved Column construction behind `private[sql]` ExpressionUtils) and to
  * LogicalRDD construction. Living in org.apache.spark.sql is the standard
  * pattern for extension libraries that define custom Catalyst expressions.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Longs per packed chunk: a partition packs into ⌈rows/PackChunk⌉
    * arrays of at most 8 MB each, so no array nears the JVM's length
    * limit and the block store unrolls a partition chunk by chunk. */
  private val PackChunk = 1 << 20

  /** Materialize df — ONE LONG column with no null value, fresh out of
    * `repartition(numParts, col).sortWithinPartitions(col)` — as packed
    * `long[]` chunks (8 bytes per value) persisted MEMORY_AND_DISK and
    * lineage-truncated by `localCheckpoint`, while KEEPING its hash
    * partitioning + per-partition sort visible to Catalyst.
    *
    * Why not plain localCheckpoint: under AQE the checkpointed physical
    * plan reports UnknownPartitioning, so every later join re-exchanges
    * the checkpointed side. A user-specified repartition is never
    * coalesced by AQE, so the partitioning is known by construction and
    * re-attached to the LogicalRDD — later joins on the column exchange
    * only their OTHER side. Why packed: a deserialized row cache costs an
    * UnsafeRow object plus its byte[] per value (~76 bytes); the packed
    * chunks cost 8. Catalyst reads them through a narrow view that fills
    * ONE reused UnsafeRow per partition, so the scan allocates nothing per
    * row. Returns the frame with its row count, both from one eager job.
    * Free it with [[freeCheckpoint]]. */
  def checkpointPacked(df: Dataset[Row], numParts: Int): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    require(qe.analyzed.output.size == 1 && qe.analyzed.output.head.dataType == LongType,
      s"packing takes one LONG column, got ${qe.analyzed.schema.simpleString}")
    // the view never emits a null; a null input fails the pack
    val output: Seq[Attribute] = qe.analyzed.output.map(_.withNullability(false))
    val packed: RDD[Array[Long]] = qe.toRdd.mapPartitions(rows => new Iterator[Array[Long]] {
      def hasNext: Boolean = rows.hasNext
      def next(): Array[Long] = {
        val b = new ArrayBuilder.ofLong
        var k = 0
        while (k < PackChunk && rows.hasNext) {
          val r = rows.next()
          if (r.isNullAt(0))
            throw new IllegalArgumentException("packing takes non-null longs: filter nulls first")
          b += r.getLong(0); k += 1
        }
        b.result()
      }
    })
    packed.persist(StorageLevel.MEMORY_AND_DISK)
    // REAL lineage truncation, not just caching: after the eager job the
    // RDD's dependency graph is replaced by the checkpoint blocks. Without
    // it every later stage that scans this piece serializes the piece's
    // WHOLE upstream plan (wave expressions, cached-relation trees) into
    // each task binary — megabytes per task ("Broadcasting large task
    // binary" warnings) that grow with every retained piece.
    packed.localCheckpoint()
    // eager: compute while upstream caches are still alive
    val n = packed.aggregate(0L)((acc, chunk) => acc + chunk.length, _ + _)
    val view: RDD[InternalRow] = packed.mapPartitions(chunks => new Iterator[InternalRow] {
      private val row = new UnsafeRow(1)
      row.pointTo(new Array[Byte](16), 16) // null bits word + the value
      private var chunk = Array.emptyLongArray
      private var i = 0
      def hasNext: Boolean = {
        while (i == chunk.length && chunks.hasNext) { chunk = chunks.next(); i = 0 }
        i < chunk.length
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        row.setLong(0, chunk(i)); i += 1
        row
      }
    }, preservesPartitioning = true)
    val part = HashPartitioning(output, numParts)
    val order = Seq(SortOrder(output.head, Ascending))
    (classic.Dataset.ofRows(session,
      LogicalRDD(output, view, part, order, isStreaming = false)(session)), n)
  }

  /** The packed RDD behind a [[checkpointPacked]] frame: the one parent of
    * its row view. */
  private def packedOf(df: Dataset[Row]): Option[RDD[_]] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.dependencies.headOption.map(_.rdd)
      case _ => None
    }

  /** Release the packed RDD behind a [[checkpointPacked]] frame. */
  def freeCheckpoint(df: Dataset[Row]): Unit =
    packedOf(df).foreach(_.unpersist(blocking = false))

  /** Memory plus disk bytes the block store holds for the packed RDD
    * behind a [[checkpointPacked]] frame. */
  def storedBytes(df: Dataset[Row]): Long = packedOf(df).fold(0L) { r =>
    r.sparkContext.getRDDStorageInfo.filter(_.id == r.id).map(i => i.memSize + i.diskSize).sum
  }
}
