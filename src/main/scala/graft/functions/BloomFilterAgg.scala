package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.util.sketch.BloomFilter

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

/** `graft_bloom_agg(longCol, expectedItems, fpp)` — distributed bloom
  * build as a TypedImperativeAggregate over `BloomFilter.create(items,
  * fpp)` buffers.
  *
  * Why not Spark's own BloomFilterAggregate: that expression SILENTLY
  * clamps its item estimate to `spark.sql.optimizer.runtime.bloomFilter.
  * maxNumItems` (4M) while honoring the caller's bit count, so past 4M
  * items per filter its buffers get a different optimal hash-function
  * count than a `BloomFilter.create(items, fpp)` built anywhere else —
  * `mergeInPlace` then throws IncompatibleMergeException. The engine's
  * per-bucket images are sized from each seen piece's row count and pass
  * that clamp at scale (SeenState), so the aggregate must track the exact
  * same (items, fpp) sizing as `BloomFilter.create` everywhere else. */
case class BloomFilterAggImpl(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomFilter]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(expectedItems, fpp)

  override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buffer.putLong(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter =
    buffer.mergeInPlace(other)

  override def eval(buffer: BloomFilter): Any = serialize(buffer)

  override def serialize(buffer: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    buffer.writeTo(out)
    out.toByteArray
  }

  override def deserialize(storageFormat: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(storageFormat))

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(newOffset: Int): BloomFilterAggImpl =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomFilterAggImpl =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): BloomFilterAggImpl =
    copy(child = c)
}

object BloomFilterAgg {
  def graft_bloom_agg(c: Column, expectedItems: Long, fpp: Double): Column =
    column(BloomFilterAggImpl(expression(c), expectedItems, fpp).toAggregateExpression())
}
