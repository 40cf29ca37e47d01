package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.roaringbitmap.RoaringBitmap

/** ORs per-row Bloom probe positions (an `array<bigint>` of non-negative
  * ints; a null array is skipped) into one bitset, returned as a
  * serialized [[RoaringBitmap]]. It is the distributed half of the
  * manifest Bloom build ([[graft.tables.BloomMeta]]): the positions are
  * taken at a fixed wide width and the driver folds the result down to
  * the group's sized width once the row count is known. A Roaring buffer
  * keeps a near-empty task's partial a few bytes instead of the whole
  * width, and it is an ordinary aggregate, so it rides a write's
  * `observe` or a `groupBy` with no job of its own.
  */
case class BloomBitsAgg(child: Expression, mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[RoaringBitmap] with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_bits"

  override def createAggregationBuffer(): RoaringBitmap = new RoaringBitmap()

  override def update(buffer: RoaringBitmap, input: InternalRow): RoaringBitmap = {
    val a = child.eval(input)
    if (a != null) {
      val ps = a.asInstanceOf[ArrayData]
      var i = 0
      while (i < ps.numElements()) { buffer.add(ps.getLong(i).toInt); i += 1 }
    }
    buffer
  }

  override def merge(buffer: RoaringBitmap, input: RoaringBitmap): RoaringBitmap = {
    buffer.or(input)
    buffer
  }

  override def eval(buffer: RoaringBitmap): Any = serialize(buffer)

  override def serialize(buffer: RoaringBitmap): Array[Byte] = {
    buffer.runOptimize()
    val out = java.nio.ByteBuffer.allocate(buffer.serializedSizeInBytes())
    buffer.serialize(out)
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): RoaringBitmap = BloomBitsAgg.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BloomBitsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomBitsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BloomBitsAgg = copy(child = c)
}

object BloomBitsAgg {
  /** The aggregate over a positions column. */
  def column(positions: Column): Column =
    GraftBridge.column(new BloomBitsAgg(GraftBridge.convertedExpression(positions))
      .toAggregateExpression())

  def deserialize(bytes: Array[Byte]): RoaringBitmap = {
    val bm = new RoaringBitmap()
    bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
    bm
  }
}
