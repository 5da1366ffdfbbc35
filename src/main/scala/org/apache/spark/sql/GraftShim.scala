package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Bridge to the sql-private Column <-> Expression converters (Spark 4
  * moved Column construction behind `private[sql]` ExpressionUtils) and to
  * LogicalRDD construction. Living in org.apache.spark.sql is the standard
  * pattern for extension libraries that define custom Catalyst expressions.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Materialize df as a persisted InternalRow RDD (lineage truncated —
    * exactly what Dataset.localCheckpoint(eager=true) does) while KEEPING
    * its hash partitioning + per-partition sort visible to Catalyst.
    *
    * Why not plain localCheckpoint: under AQE the checkpointed physical
    * plan reports UnknownPartitioning, so every later join re-exchanges
    * the checkpointed side. Here the caller guarantees df just came out
    * of `repartition(numParts, col).sortWithinPartitions(col)` (a
    * user-specified repartition AQE never coalesces), so the partitioning
    * is known by construction and re-attached to the LogicalRDD — later
    * joins on `colName` exchange only their OTHER side. Returns the frame
    * with its row count (the eager materialization counts anyway). */
  def checkpointPartitioned(df: Dataset[Row], colName: String,
      numParts: Int): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val rdd: RDD[InternalRow] = qe.toRdd.map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // REAL lineage truncation, not just caching: after the eager count the
    // RDD's dependency graph is replaced by the checkpoint blocks. Without
    // it every later stage that scans this piece serializes the piece's
    // WHOLE upstream plan (wave expressions, cached-relation trees) into
    // each task binary — megabytes per task ("Broadcasting large task
    // binary" warnings) that grow with every retained piece.
    rdd.localCheckpoint()
    val n = rdd.count() // eager: compute while upstream caches are still alive
    val output: Seq[Attribute] = qe.analyzed.output
    val attr = output.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no column $colName in ${output.map(_.name)}"))
    val part = HashPartitioning(Seq(attr), numParts)
    val order = Seq(SortOrder(attr, Ascending))
    (classic.Dataset.ofRows(session,
      LogicalRDD(output, rdd, part, order, isStreaming = false)(session)), n)
  }

  /** Release the persisted RDD behind a [[checkpointPartitioned]] frame. */
  def freeCheckpoint(df: Dataset[Row]): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
