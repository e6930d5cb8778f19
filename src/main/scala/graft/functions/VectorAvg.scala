package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Element-wise average of vector columns — a native
  * `TypedImperativeAggregate` whose buffer is one primitive
  * `double[dim+1]` (sums + count).
  *
  * The composed-builtin alternative (posexplode → groupBy(key, pos) →
  * avg → re-collect arrays) shuffles dim rows per input row and needs a
  * second aggregation to reassemble arrays; this shuffles ONE fixed-size
  * buffer per (group × partition) with map-side partial aggregation —
  * the centroid build for IVF/k-means at corpus scale.
  *
  * Sums accumulate in doubles; partial-merge order follows Spark's
  * reduction order (last-ulp nondeterminism across cluster layouts, as
  * with any floating aggregate — fine for index construction, not for
  * oracle-checked outputs). Rows with mismatched dimension vs the first
  * row seen in the buffer throw. The driver path of
  * `graft.search.Ann.kmeansCentroids` computes the same per-cluster sums
  * and counts without this aggregate: one partial per held data file,
  * merged in file order, so its result does not depend on thread count
  * and differs from this one only in the last ulps of the merge.
  */
case class VectorAvg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vector_avg needs array<float|double>, got ${other.catalogString}")
  }

  // hoisted: TypedImperativeAggregate runs interpreted, and update() is
  // the per-row hot loop — don't pattern-match the dataType per element
  @transient private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // buffer layout: [sum_0 .. sum_{d-1}, count]; Array.empty = no rows yet
  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val d = arr.numElements()
    val buf = if (buffer.isEmpty) new Array[Double](d + 1) else buffer
    require(buf.length == d + 1,
      s"vector_avg: dimension mismatch (${buf.length - 1} vs $d)")
    var i = 0
    while (i < d) {
      buf(i) += (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i))
      i += 1
    }
    buf(d) += 1.0
    buf
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    if (b2.isEmpty) return b1
    if (b1.isEmpty) return b2
    require(b1.length == b2.length, "vector_avg: dimension mismatch in merge")
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Double]): Any =
    if (buffer.isEmpty || buffer.last == 0.0) null
    else {
      val d = buffer.length - 1
      val out = new Array[Double](d)
      var i = 0
      while (i < d) { out(i) = buffer(i) / buffer(d); i += 1 }
      new GenericArrayData(out)
    }

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buffer.length)
    buffer.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorAvg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorAvg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "vector_avg"
}

object VectorAvg {
  def apply(vec: Column): Column = {
    val eu = org.apache.spark.sql.graftbridge.ColumnBridge
    eu.column(VectorAvg(eu.expression(vec)).toAggregateExpression())
  }
}
